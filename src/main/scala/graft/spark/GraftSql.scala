package graft.spark

import org.apache.spark.sql.SparkSession
import graft.dggs.{Addr, Authalic, DggsKernel, Z7}
import graft.spark.{DggsFunctions => F}

/** SQL-name registration: makes the DGGS surface usable from
  * `spark.sql(...)` (and thence JDBC/thrift clients) without touching the
  * Scala API — `SELECT z7_cell(lon, lat, 9) FROM pts`. One call per
  * session; names are stable and lower_snake.
  */
object GraftSql {

  /** every name [[register]] installs — the public SQL API surface.
    * GraftSqlSpec sweeps each name through `spark.sql` once and fails if
    * this list and the actually-registered temporary functions drift
    * (add a registration below ⇒ add it here ⇒ add its sweep case).
    */
  val functionNames: Seq[String] = Seq(
    "z7_cell", "z7_string", "z7_from_string", "z7_parent", "z7_ancestor",
    "z7_resolution", "z7_is_pentagon", "z7_children", "z7_ring1", "z7_disk",
    "z7_range_min", "z7_range_max", "z7_seqnum", "z7_from_seqnum",
    "z7_center_lon", "z7_center_lat", "z7_boundary_wkt",
    "t4_cell", "t4_string", "t4_ancestor", "d4_cell", "d4_string", "d4_ancestor",
    "z3_cell", "z3_string", "z3_ancestor",
    "z4_cell", "z4_string", "z4_ancestor", "z43_cell",
    "to_authalic_lat", "to_geodetic_lat",
    "z7_vertex2dd", "z7_projtri", "z7_q2dd", "z7_plane",
    "word_shingles", "top_word_n", "top_bigram_n", "ahash64_pnm",
    "audiohash64_wav", "hamming64",
    "mix_bucket6", "redact_pii", "sig_match_frac", "wkt_intersects",
    "haversine_km", "wkt_contains_point", "z7_family_size", "kmv_distinct")

  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.graft.AggRegistrar.{intLiteral, registerNative}
    val r = spark.udf
    // the <id>_cell / <id>_string / <id>_ancestor trio of every kernel
    // (z7_, t4_, d4_, z3_, z4_). `_cell` and `_ancestor` are the Column
    // forms themselves (one direct kernel call each); the `_string`
    // closure captures the kernel, which ships as its spec and resolves
    // to the executor's cached instance
    for (k <- Seq[DggsKernel](Grids.default, Grids.isea4t, Grids.isea4d,
                              Grids.isea3h, Grids.isea4h)) {
      val p = k.idName.toLowerCase
      registerNative(spark, s"${p}_cell", 3)(a => F.cellForPoint(a(0), a(1), a(2), k))
      r.register(s"${p}_string", (z: Long) => k.toCellString(z))
      registerNative(spark, s"${p}_ancestor", 2)(a => F.ancestorAt(a(0), a(1), k))
    }
    // z43_cell takes the mixed_aperture_level as an argument (a grid
    // CONFIG the reference passes the same way): an integer literal,
    // since it picks the kernel the call is made on
    registerNative(spark, "z43_cell", 4) { a =>
      F.cellForPoint(a(0), a(1), a(2),
        Grids.isea43h(intLiteral("z43_cell", "the aperture-4 level count n4", a(3))))
    }
    // Z7 / ISEA7H
    r.register("z7_from_string", (s: String) => Z7.fromCellString(s))
    registerNative(spark, "z7_parent", 1)(a => F.parent(a(0)))
    registerNative(spark, "z7_resolution", 1)(a => F.resolution(a(0)))
    r.register("z7_is_pentagon", (z: Long) => Z7.isPentagon(z))
    r.register("z7_children", (z: Long) => Z7.children(z))
    r.register("z7_ring1", (z: Long) => Grids.default.ring1(z).toSeq)
    r.register("z7_disk", (z: Long, k: Int) => Grids.default.disk(z, k).toSeq)
    registerNative(spark, "z7_range_min", 1)(a => F.z7RangeMin(a(0)))
    registerNative(spark, "z7_range_max", 1)(a => F.z7RangeMax(a(0)))
    r.register("z7_seqnum", (z: Long) => Seqnum.toSeqnum(z))
    r.register("z7_from_seqnum", (n: Long, res: Int) => Seqnum.toZ7(n, res))
    r.register("z7_center_lon", (z: Long) => Grids.default.cellCenter(z).lonDeg)
    r.register("z7_center_lat", (z: Long) => Grids.default.cellCenter(z).latDeg)
    registerNative(spark, "z7_boundary_wkt", 1)(a => F.cellBoundaryWkt(a(0)))
    // coordinate conversions
    r.register("to_authalic_lat", (lat: Double) => Authalic.toAuthalicDeg(lat))
    r.register("to_geodetic_lat", (lat: Double) => Authalic.toGeodeticDeg(lat))
    // address frames (VERTEX2DD added round 3)
    r.register("z7_vertex2dd", (z: Long) => Addr.z7ToVertex2dd(Grids.default, z))
    r.register("z7_projtri", (z: Long) => Addr.z7ToProjtri(Grids.default, z))
    r.register("z7_q2dd", (z: Long) => Addr.z7ToQ2dd(Grids.default, z))
    r.register("z7_plane", (z: Long) => Addr.z7ToPlane(Grids.default, z))
    // LLM-pipeline building blocks (round-5 verdict #7): the per-row
    // kernels of the text/media operators, so a SQL-only user can
    // compose shingle overlap (contamination counts), repetition
    // signals, and perceptual image hashing without the Scala API.
    // Single-space tokenization with limit -1 (trailing empty tokens
    // KEPT) — byte-identical to TextOps' Spark `split(text, " ")` and
    // the DuckDB oracles' string_split; Java's default split drops
    // trailing empties and would silently diverge. NULL text → NULL
    // result (SQL convention), not an NPE: String-typed UDF params
    // receive nulls, unlike the primitive-typed cell-math functions
    // above which Spark auto-null-guards.
    r.register("word_shingles", (text: String, k: Int) =>
      if (text == null) null
      else {
        val w = text.split(" ", -1)
        if (w.length < k) Seq.empty[String]
        else (0 to w.length - k).map(i => w.slice(i, i + k).mkString(" ")).distinct
      })
    r.register("top_word_n", (text: String) =>
      if (text == null) None
      else {
        // split(-1) yields at least [""] for any non-null text, so the
        // iterator is never empty (a whitespace-only doc counts its
        // empty tokens, exactly as TextOps.repetitionStats does)
        val w = text.split(" ", -1)
        Some(w.groupBy(identity).valuesIterator.map(_.length).max.toLong)
      })
    r.register("top_bigram_n", (text: String) =>
      if (text == null) None
      else {
        val w = text.split(" ", -1)
        if (w.length < 2) Some(0L)
        else Some(w.sliding(2).map(_.mkString(" ")).toSeq
          .groupBy(identity).valuesIterator.map(_.length).max.toLong)
      })
    r.register("ahash64_pnm", (payload: Array[Byte]) =>
      if (payload == null) null
      else graft.ops.MediaOps.aHash64Hex(
        graft.ops.MediaOps.decodePnm(payload).getOrElse(
          throw new IllegalArgumentException(
            "ahash64_pnm: payload is not binary PNM (P5/P6)"))))
    // the audio twin of ahash64_pnm: real RIFF/PCM16 decode →
    // windowed-energy 64-bit hash, composable with hamming64
    r.register("audiohash64_wav", (payload: Array[Byte]) =>
      if (payload == null) null
      else graft.ops.MediaOps.audioHash64Hex(
        graft.ops.MediaOps.decodeWav(payload).getOrElse(
          throw new IllegalArgumentException(
            "audiohash64_wav: payload is not RIFF/PCM16 WAV"))))
    r.register("hamming64", (a: String, b: String) =>
      if (a == null || b == null) None
      else {
        def half(s: String, from: Int): Long = {
          if (s.length != 16)
            throw new IllegalArgumentException(
              s"hamming64 expects 16-hex-char signatures, got ${s.length} chars")
          try java.lang.Long.parseLong(s.substring(from, from + 8), 16)
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"hamming64: '$s' is not a hex signature")
          }
        }
        Some(java.lang.Long.bitCount(half(a, 0) ^ half(b, 0)) +
          java.lang.Long.bitCount(half(a, 8) ^ half(b, 8)))
      })
    // TextOps.sampleMix's draw kernel: deterministic uniform bucket in
    // [0, 16^6) = the first 3 md5 bytes of "id:salt" — a SQL-only user
    // reproduces any mixture decision with
    // `WHERE mix_bucket6(doc_id, 'mix') < floor(rate * 16777216)`.
    // Portable: equals DuckDB's
    // cast(('0x' || substr(md5(id || ':' || salt), 1, 6)) as bigint).
    r.register("mix_bucket6", (id: String, salt: String) =>
      if (id == null || salt == null) None
      else {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest((id + ":" + salt).getBytes("UTF-8"))
        Some(((d(0) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(2) & 0xffL))
      })
    // TextOps.redactPii's per-row kernel: emails then phone-shaped
    // digit runs, same order and patterns as the DataFrame op (emails
    // FIRST so a digit-bearing local part is not half-eaten)
    r.register("redact_pii", (text: String) =>
      if (text == null) null
      else text
        .replaceAll(graft.ops.TextOps.EmailPattern, "<EMAIL>")
        .replaceAll(graft.ops.TextOps.PhonePattern, "<PHONE>"))
    // TextOps.dedupIncremental's estimate kernel: fraction of agreeing
    // minhash-signature positions (positionwise, zip to the shorter) —
    // a SQL-only user can score any two fingerprint rows with
    // `sig_match_frac(a.sig, b.sig) >= 0.5`. Empty/length-mismatched
    // signatures raise: a silent 0.0 would read as "not similar" when
    // the real condition is "not comparable".
    r.register("sig_match_frac", (a: Seq[String], b: Seq[String]) =>
      if (a == null || b == null) None
      else if (a.isEmpty || a.length != b.length)
        throw new IllegalArgumentException(
          s"sig_match_frac: signatures must be equal-length and non-empty, " +
            s"got ${a.length} and ${b.length}")
      else Some(a.iterator.zip(b.iterator).count { case (x, y) => x == y }
        .toDouble / a.length))
    // exact JTS intersects of two WKT geometries — the overlay-join
    // refine kernel (SpatialOps.polygonIntersectsJoin), so a SQL-only
    // user can refine lake-resident candidate pairs. NULL on either
    // side → NULL (the same contract as hamming64/sig_match_frac —
    // round-6 ADVICE: the bare call threw an opaque NPE task failure)
    r.register("wkt_intersects", (a: String, b: String) =>
      if (a == null || b == null) None
      else Some(graft.ops.JtsCache.intersectsWkt(a, b)))
    // round-6-op kernels exposed to SQL (round-6 verdict #7):
    // the distance-join refine — identical arithmetic to
    // SpatialOps.haversineKm (primitive params: Spark null-guards)
    r.register("haversine_km", (lon1: Double, lat1: Double,
                                lon2: Double, lat2: Double) => {
      val r1 = math.toRadians(lat1); val r2 = math.toRadians(lat2)
      val dlat = math.toRadians(lat2 - lat1)
      val dlon = math.toRadians(lon2 - lon1)
      val a = math.pow(math.sin(dlat / 2), 2) +
        math.cos(r1) * math.cos(r2) * math.pow(math.sin(dlon / 2), 2)
      2.0 * graft.dggs.Sphere.EarthRadiusKm * math.asin(math.sqrt(a))
    })
    // the zonal-stats / PIP refine kernel: exact JTS contains of a point
    // in a WKT geometry (NULL wkt → NULL, matching wkt_intersects)
    r.register("wkt_contains_point", (wkt: String, lon: Double, lat: Double) =>
      if (wkt == null) None
      else Some(graft.ops.JtsCache.contains(wkt, lon, lat)))
    // the compaction kernel: how many res-(r+1) children a complete
    // family under this cell has — 6 for a pentagon, 7 otherwise (the
    // aperture-4 grids' family size is the literal 4; no kernel needed).
    // A SQL user compacts with: group children by z7_parent, keep groups
    // where count(*) = z7_family_size(z7_parent(any child))
    r.register("z7_family_size", (z: Long) =>
      if (Z7.isPentagon(z)) 6 else 7)
    // the KMV distinct sketch is a native AGGREGATE — registered via the
    // FunctionRegistry (spark.udf cannot install one); k must be an
    // integer literal
    org.apache.spark.sql.graft.AggRegistrar.registerKmv(spark)
    ()
  }
}
