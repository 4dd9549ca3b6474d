package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.dggs.{Sphere, Z7}
import graft.spark.{DggsFunctions => F, Grids, Seqnum}

/** Spark-level integration tests: corpus invariants, checkpoint
  * kill-and-resume determinism, ring topology, seqnum bijectivity,
  * dateline split properties.
  */
class SparkOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def corpus(n: Int) = {
    import spark.implicits._
    CorpusOps.interleavedDocs((0L until n.toLong).toDF("doc_id"))
  }

  test("mediaContentDedup: planted byte-identical media groups, min-id keeps") {
    import spark.implicits._
    // modulus 3: payload content keyed by (i % 3, off). Two docs are
    // media-dups iff their ordered media content-KEY sequences match —
    // absolute offsets are rightly NOT part of the content (a re-wrap
    // interleaves different text around the same media), so e.g. doc 1
    // (media at off 0, key (1,0)) duplicates doc 7 (single media span,
    // key (1,0)) across different span structures. Expected groups are
    // recomputed driver-side from the generator formula.
    val c = corpus(42)
    val out = CorpusOps.mediaContentDedup(c, MediaOps.syntheticSharedMedia(c, 3))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    def id(i: Int) = f"doc-$i%012d"
    val keySeq: Map[Int, List[(Int, Int)]] = (0 until 42).map { i =>
      i -> (0 to i % 7).filter(off => (i + off) % 3 == 1)
        .map(off => (i % 3, off)).toList
    }.toMap
    val withMedia = keySeq.filter(_._2.nonEmpty)
    // doc 0 (and 21): single span, kind text → no media content → absent
    assert(!out.contains(id(0)) && !out.contains(id(21)))
    assert(out.keySet == withMedia.keySet.map(id))
    val groups = withMedia.groupBy(_._2).values.map(_.keySet).toSeq
    assert(groups.exists(_.size > 1), "the planted corpus must contain dups")
    assert(groups.contains(Set(1, 7, 16, 22, 28, 37)), // the cross-structure group
      s"expected the single-media (1,0)-key docs to share content, " +
        s"got ${groups.find(_.contains(1))}")
    for (g <- groups) {
      val rows = g.toSeq.sorted.map(i => i -> out(id(i)))
      val keeper = id(g.min)
      assert(rows.map(_._2._2).distinct.size == 1,
        s"group $g must share one digest")
      for ((i, (nMedia, _, keep, size, dup)) <- rows) {
        assert(nMedia == keySeq(i).length)
        assert(keep == keeper && size == g.size && dup == (id(i) != keeper),
          s"doc $i in group $g")
      }
    }
    // distinct content sequences never collide
    assert(out.values.map(_._2).toSet.size == groups.size)
    spark.catalog.clearCache()
  }

  test("mediaContentDedup: unresolved media_ref raises, never a partial digest") {
    val c = corpus(12)
    // drop one ref from the media relation — the left join must raise on
    // the null signature (round-6 ADVICE), not silently digest the
    // resolved subset into a shorter-sequence collision
    val media = MediaOps.syntheticSharedMedia(c, 3)
      .where(col("media_ref") =!= "media://1/0")
    val e = intercept[Exception] {
      CorpusOps.mediaContentDedup(c, media).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("unresolved"), msgs)
  }

  test("span-sequence invariant survives explode + shuffle + reassembly") {
    val c = corpus(500)
    // direct digest from the built array (no shuffle)
    val direct = c.select(col("doc_id"),
      md5(array_join(transform(col("spans"), x =>
        concat_ws("|", x.getField("kind"), x.getField("text"), x.getField("media_ref"))),
        "#").cast("binary")).as("seq_md5"))
    val viaShuffle = CorpusOps.spanSequenceDigest(c).select("doc_id", "seq_md5")
    assert(direct.except(viaShuffle).count() == 0)
    assert(viaShuffle.except(direct).count() == 0)
  }

  test("checkpointed run: kill-and-resume equals single-shot") {
    val geo = CorpusOps.geoSpans(corpus(2000))
    val cells = GridOps.cellsForGeoPoints(geo, "lon", "lat", 5)
      .select("doc_id", "offset", "cell_id").cache()
    val ranges = CheckpointedRun.planRanges(cells, "cell_id", 1, 200)
    assert(ranges.size > 3, s"expected several ranges, got ${ranges.size}")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(F.z7AncestorAt(col("cell_id"), lit(2)).as("cell2"))
        .agg(count(lit(1)).as("n"))

    val dir1 = java.nio.file.Files.createTempDirectory("ckpt1").toString
    val dir2 = java.nio.file.Files.createTempDirectory("ckpt2").toString
    // single shot
    CheckpointedRun.run(cells, "cell_id", ranges, dir1)(rollup)
    // killed after half the ranges, then resumed with all
    CheckpointedRun.run(cells, "cell_id", ranges.take(ranges.size / 2), dir2)(rollup)
    val resumed = CheckpointedRun.run(cells, "cell_id", ranges, dir2)(rollup)
    assert(resumed.count(_.status == "skipped") == ranges.size / 2)
    val a = CheckpointedRun.readOutput(spark, dir1)
      .groupBy("cell2").agg(sum("n").as("n"))
    val b = CheckpointedRun.readOutput(spark, dir2)
      .groupBy("cell2").agg(sum("n").as("n"))
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // manifest has lineage for every range
    val manifest = scala.io.Source.fromFile(s"$dir2/_manifest.jsonl").getLines().toSeq
    assert(manifest.size == ranges.size)
    assert(manifest.forall(_.contains(""""status":"done"""")))
    cells.unpersist()
  }

  test("ranges partition the cell space: disjoint, ordered, complete") {
    val geo = CorpusOps.geoSpans(corpus(1000))
    val cells = GridOps.cellsForGeoPoints(geo, "lon", "lat", 4)
    val ranges = CheckpointedRun.planRanges(cells, "cell_id", 1, 150)
    for (Seq(a, b) <- ranges.sliding(2)) assert(a.hi < b.lo)
    // every row falls in exactly one range
    val total = cells.count()
    val covered = ranges.map(r =>
      cells.where(col("cell_id") >= r.lo && col("cell_id") <= r.hi).count()).sum
    assert(covered == total)
  }

  test("cells_for_geo_points polygon variant: zone column + rings; OUTPUT_ALL binning") {
    import spark.implicits._
    val pts = Seq((24.7, 59.4, 1.0), (-122.7, 45.4, 2.0)).toDF("lon", "lat", "v")
    val poly = GridOps.cellsForGeoPointsPolygons(pts, "lon", "lat", 5)
    assert(poly.columns.contains("zone") && !poly.columns.contains("name"))
    val rings = poly.select(size(col("boundary"))).as[Int].collect()
    assert(rings.forall(n => n == 6 || n == 5))
    // zone equals the assign path's name
    val names = GridOps.cellsForGeoPoints(pts, "lon", "lat", 5)
      .select("name").as[String].collect().toSet
    assert(poly.select("zone").as[String].collect().toSet == names)
    // OUTPUT_ALL: every extent cell appears exactly once; occupied rows
    // match the occupied-only aggregate
    val clip = Some((20.2, 57.0, 28.4, 60.0))
    val all = GridOps.binPointValsAll(pts, "lon", "lat", "v", 4, clip)
    val nCells = GridOps.gridCellIdsForExtent(spark, 4, clip).count()
    assert(all.count() == nCells)
    assert(all.where(col("value_count") === 0 && col("value_mean").isNotNull).count() == 0)
    val occ = GridOps.binPointVals(pts, "lon", "lat", "v", 4)
      .select("name", "value_mean", "value_count")
    assert(all.where(col("value_count") > 0).select("name", "value_mean", "value_count")
      .except(occ).count() == 0)
  }

  test("distributed polygon covers equal the driver-side covers (WKT clip)") {
    import spark.implicits._
    // non-rectangular polygon (Estonia-ish pentagon crossing 60°N, where
    // the unscaled lon margin used to silently drop cells)
    val wkt = "POLYGON ((21.0 57.3, 28.0 57.8, 27.5 59.7, 24.0 60.4, 21.5 59.5, 21.0 57.3))"
    for (res <- Seq(3, 4)) {
      val driverSide = SpatialOps.coverCells(wkt, res).toSet
      val distributed = SpatialOps.coverCellsDf(
          Seq(("p", wkt)).toDF("poly_id", "wkt"), res)
        .select("cell_id").as[Long].collect().toSet
      assert(distributed == driverSide, s"res $res")
      val viaWktApi = SpatialOps.gridCellIdsForWkt(spark, wkt, res)
        .as[Long].collect().toSet
      assert(viaWktApi == driverSide, s"res $res (wkt api)")
    }
  }

  test("GeoJSON source: FeatureCollection → (poly_id, wkt) feeds the cover pipeline") {
    import spark.implicits._
    val fc =
      """{"type": "FeatureCollection", "features": [
        |  {"type": "Feature", "properties": {"name": "est"},
        |   "geometry": {"type": "Polygon", "coordinates":
        |     [[[20.2, 57.0], [28.4, 57.0], [28.4, 60.0], [20.2, 60.0], [20.2, 57.0]]]}},
        |  {"type": "Feature", "properties": {"name": "two"},
        |   "geometry": {"type": "MultiPolygon", "coordinates":
        |     [[[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
        |      [[[10.0, 10.0], [11.0, 10.0], [11.0, 11.0], [10.0, 10.0]]]]}}
        |]}""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson")
    val f = dir.resolve("polys.geojson")
    java.nio.file.Files.write(f, fc.getBytes("UTF-8"))
    val got = GeoSources.readGeoJsonPolygons(spark, f.toString, idProp = Some("name"))
      .as[(String, String)].collect().toMap
    val rdr = new org.locationtech.jts.io.WKTReader()
    val estWkt = "POLYGON ((20.2 57.0, 28.4 57.0, 28.4 60.0, 20.2 60.0, 20.2 57.0))"
    assert(rdr.read(got("est")).equalsExact(rdr.read(estWkt)), got("est"))
    assert(rdr.read(got("two")).getGeometryType == "MultiPolygon" &&
      rdr.read(got("two")).getNumGeometries == 2, got("two"))
    // the read polygons drive the distributed cover exactly like WKT input
    val viaGeoJson = SpatialOps.coverCellsDf(
        GeoSources.readGeoJsonPolygons(spark, f.toString, Some("name"))
          .where(col("poly_id") === "est"), 3)
      .select("cell_id").as[Long].collect().toSet
    assert(viaGeoJson == SpatialOps.coverCells(estWkt, 3).toSet)
  }

  test("nearDupClusters: empty input, chain + clique minima, loud non-convergence") {
    import spark.implicits._
    // empty pair set: no rows, no NPE (sum over zero rows is SQL NULL)
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(TextOps.nearDupClusters(empty).count() == 0)
    // a 6-chain and a separate triangle each resolve to component minima
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("doc_a", "doc_b")
    val got = TextOps.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(got(_) == 1L), got.toString)
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L), got.toString)
    // diameter > maxIters must fail loudly, not return partial labels
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      TextOps.nearDupClusters(chain, maxIters = 2).count()
    }
  }

  test("CSV points source + KML cell sink (reference I/O zoo parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    java.nio.file.Files.write(dir.resolve("pts.csv"),
      "name,lon,lat\nhel,24.95,60.17\ntll,24.75,59.44\n".getBytes("UTF-8"))
    val pts = GeoSources.readPointsCsv(spark, dir.resolve("pts.csv").toString)
    val assigned = GridOps.cellsForGeoPoints(
        pts.withColumnRenamed("name", "pt"), "lon", "lat", 3)
      .select("pt", "cell_id").as[(String, Long)].collect().toMap
    assert(assigned.size == 2 && assigned.values.forall(_ != 0L))
    // non-numeric AND missing (empty-cell → null) coordinates both fail
    // with the reader's OWN error (column name + value — try_cast keeps
    // the guard in charge in any ANSI mode), not a generic cast error
    for (badRow <- Seq("x,not-a-number,60.0", "x,,60.0")) {
      java.nio.file.Files.write(dir.resolve("bad.csv"),
        s"name,lon,lat\n$badRow\n".getBytes("UTF-8"))
      val e = intercept[Exception] {
        GeoSources.readPointsCsv(spark, dir.resolve("bad.csv").toString).collect()
      }
      assert(e.getMessage.contains("missing or non-numeric lon"), e.getMessage)
    }
    // KML Placemark: closed ring, lon,lat,alt triplets, named by Z7 string
    val kml = Seq(assigned("hel")).toDF("cell_id")
      .select(graft.spark.DggsFunctions.cellKml(col("cell_id")).as("k"))
      .as[String].head()
    assert(kml.startsWith("<Placemark><name>") && kml.endsWith("</Placemark>"))
    val coords = kml.split("<coordinates>")(1).split("</coordinates>")(0)
      .trim.split(" ")
    assert(coords.length == 7 && coords.head == coords.last, coords.toSeq) // hexagon, closed
    assert(coords.forall(_.matches("-?[0-9.]+,-?[0-9.]+,0")))
  }

  test("nearDupClustersLargeStar: O(log n) chain convergence, equals min-label") {
    import spark.implicits._
    // a 1000-node chain: diameter 999. Min-label propagation would need
    // ~1000 rounds (it throws at its default 12); star contraction must
    // finish in O(log n) — well under 25
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = TextOps.nearDupClustersLargeStarStaged(chain)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 1000 && got.values.forall(_ == 1L), got.take(5))
    assert(rounds <= 15, s"chain took $rounds rounds")
    spark.catalog.clearCache()
    // exact agreement with min-label propagation on a mixed graph
    // (clique + chain + isolated self-pair)
    val mixed = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (12L, 13L), (20L, 20L)).toDF("doc_a", "doc_b")
    val ls = TextOps.nearDupClustersLargeStar(mixed).as[(Long, Long)].collect().toSet
    val ml = TextOps.nearDupClusters(mixed).as[(Long, Long)].collect().toSet
    assert(ls == ml, s"ls=$ls ml=$ml")
    assert(ls.contains((20L, 20L)), ls) // self-pair doc keeps itself
    // empty input
    assert(TextOps.nearDupClustersLargeStar(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    spark.catalog.clearCache()
  }

  test("cleanCorpus: quality filter, exact dedup, near-dup keep-one compose") {
    import spark.implicits._
    // 14+ distinct words so the quality floor (len >= 50, uniq >= 10)
    // passes; docs 3/4 differ by ONE word over disjoint vocab (3-shingle
    // Jaccard 15/21 ≈ 0.71, above the 0.5 LSH threshold); doc 5 = doc 1
    // verbatim (exact dup); doc 6 fails the quality floor
    val base = (1 to 14).map(i => s"alpha$i").mkString(" ")
    val famB = (1 to 20).map(i => s"beta$i").mkString(" ")
    val famBNear = ((1 to 19).map(i => s"beta$i") :+ "CHANGED").mkString(" ")
    val docs = Seq(
      (1L, base),
      (3L, famB),
      (4L, famBNear),
      (5L, base),
      (6L, "tiny text")).toDF("doc_id", "text")
    val kept = TextOps.cleanCorpus(docs).as[Long].collect().toSet
    // 5 drops as an exact dup of 1; 4 drops into 3's near-dup cluster;
    // 6 drops on quality; 1 and 3 survive
    assert(kept == Set(1L, 3L), kept)
    spark.catalog.clearCache()
  }

  test("cleanCorpusStaged: per-stage drop accounting chains; pair sources swap") {
    import spark.implicits._
    val base = (1 to 14).map(i => s"alpha$i").mkString(" ")
    val famB = (1 to 20).map(i => s"beta$i").mkString(" ")
    val famBNear = ((1 to 19).map(i => s"beta$i") :+ "CHANGED").mkString(" ")
    val docs = Seq(
      (1L, base), (3L, famB), (4L, famBNear), (5L, base), (6L, "tiny text"))
      .toDF("doc_id", "text")
    val (kept, stats) = TextOps.cleanCorpusStaged(docs)
    assert(kept.as[Long].collect().toSet == Set(1L, 3L))
    val rows = stats.as[(String, Long, Long, Long)].collect().toList
    // quality: 5 in, 6 dropped → 4; exact: 5 dups 1 → 3; near-dup: 4
    // joins 3's cluster → 2
    assert(rows == List(
      ("quality", 5L, 4L, 1L),
      ("exact_dedup", 4L, 3L, 1L),
      ("near_dup", 3L, 2L, 1L)), rows)
    // accounting invariant: each stage's n_kept is the next stage's n_in
    rows.sliding(2).foreach { case List(a, b) => assert(a._3 == b._2); case _ => }
    spark.catalog.clearCache()

    // SIMHASH pair source: one word changed in ~20 flips ~6-7 of the 64
    // bits (cos ≈ 0.95), so the shared near-dup corpus above is NOT a
    // simhash near-dup — this corpus is: 60 words with word 17 changed
    // gives Hamming distance 1 (computed offline from the deterministic
    // md5 hash family, which the DuckDB oracle mirrors)
    val famG = (1 to 60).map(i => s"gamma$i").mkString(" ")
    val famGNear = (1 to 60).map(i => if (i == 17) "CHANGED" else s"gamma$i")
      .mkString(" ")
    val docsSim = Seq(
      (1L, base), (3L, famG), (4L, famGNear), (5L, base), (6L, "tiny text"))
      .toDF("doc_id", "text")
    val keptSim = TextOps.cleanCorpus(docsSim,
      pairSource = TextOps.simhashPairSource(3)).as[Long].collect().toSet
    assert(keptSim == Set(1L, 3L), keptSim)
    spark.catalog.clearCache()

    // EMBEDDING pair source: doc-id-keyed vectors where 3 and 4 are
    // near-identical, others orthogonal; quality/exact drops must
    // propagate (doc 5's and 6's vectors never generate pairs)
    def vec(active: Int): Seq[Float] =
      (0 until 64).map(d => if (d == active) 1.0f else 0.0f)
    val embs = Seq(
      (1L, vec(0)), (3L, vec(1)),
      (4L, (0 until 64).map(d => if (d == 1) 1.0f else if (d == 2) 0.05f else 0.0f)),
      (5L, vec(0)), (6L, vec(3))).toDF("vec_id", "embedding")
    val keptEmb = TextOps.cleanCorpus(docs,
      pairSource = TextOps.embeddingPairSource(embs, 0.95))
      .as[Long].collect().toSet
    assert(keptEmb == Set(1L, 3L), keptEmb)
    spark.catalog.clearCache()

    // PRECOMPUTED pair source (lake-resident pairs): pairs generated
    // over the raw corpus, restricted by the source to stage survivors —
    // same survivors as the in-job minhash path (per-doc signatures
    // don't depend on the corpus, so the restricted pair set is
    // identical), and a stale pair naming a dropped doc (5 is an exact
    // dup, 6 fails quality) neither resurrects it nor drags 3 out
    val lakePairs = TextOps.minhashLshPairs(docs, 3, 8, 2, 0.5)
      .unionByName(Seq((5L, 3L, 1.0), (6L, 3L, 1.0))
        .toDF("doc_a", "doc_b", "jaccard"))
    val keptPre = TextOps.cleanCorpus(docs,
      pairSource = TextOps.precomputedPairSource(lakePairs))
      .as[Long].collect().toSet
    assert(keptPre == Set(1L, 3L), keptPre)
    spark.catalog.clearCache()
  }

  test("cleanCorpusPairs stage-1 artifact: precomputed path == in-query " +
    "recompute on the gate corpus (round-7 verdict #4)") {
    import spark.implicits._
    // the exact swap pipeline_clean_spans now ships: pairs built ONCE
    // over the quality+exact prefix, persisted, fed back via
    // precomputedPairSource — survivors must be identical to the
    // default in-query composition (the DF caps are corpus-relative,
    // which is why the artifact builds over the SAME prefix relation)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val inQuery = TextOps.cleanCorpus(docs).as[Long].collect().toSet
    spark.catalog.clearCache()
    val dir = java.nio.file.Files.createTempDirectory("graft_pairs_spec")
    try {
      TextOps.cleanCorpusPairs(docs).write.mode("overwrite").parquet(dir.toString)
      spark.catalog.clearCache()
      val lake = TextOps.cleanCorpus(docs,
        pairSource = TextOps.precomputedPairSource(spark.read.parquet(dir.toString)))
        .as[Long].collect().toSet
      assert(lake == inQuery,
        s"lake-pair survivors diverged: only-lake=${(lake -- inQuery).take(5)} " +
          s"only-inquery=${(inQuery -- lake).take(5)}")
    } finally graft.tools.Fs.deleteRecursively(dir)
    spark.catalog.clearCache()
  }

  test("decontamination: report counts distinct overlaps; enforcement removes them") {
    import spark.implicits._
    // bench doc 100 = "a b c d e"; corpus doc 1 contains shingle "a b c"
    // AND "b c d" (2 distinct overlaps), doc 2 contains "c d e" once,
    // doc 3 shares nothing; doc 4 repeats its text, so the overlapping
    // shingle "x y z" occurs twice in the doc but counts ONCE (the
    // DISTINCT-shingle contract; its rotations y z x / z x y are not
    // benchmark shingles)
    val bench = Seq((100L, "a b c d e"), (200L, "x y z w")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c d q"),
      (2L, "p q c d e"),
      (3L, "m n o p q"),
      (4L, "x y z x y z")).toDF("doc_id", "text")
    val rep = TextOps.contaminationReport(docs, bench, k = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, b) => d -> ((n, b)) }.toMap
    assert(rep == Map(1L -> ((2L, 100L)), 2L -> ((1L, 100L)), 4L -> ((1L, 200L))), rep)
    val kept = TextOps.decontaminate(docs, bench, k = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L), kept)
    // threshold: removal triggers at >= 2 hits, keeping single-overlap docs
    val kept2 = TextOps.decontaminate(docs, bench, k = 3, minHits = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(2L, 3L, 4L), kept2)
    // REDACT arm: only the covered 3-word spans go, docs survive.
    // doc 1: overlaps at pos 1,2 → merged [1,4] → "q" left; doc 2:
    // "c d e" at pos 3 → [3,5] → "p q"; doc 3 untouched; doc 4: "x y z"
    // at pos 1 AND 4 → [1,3]+[4,6] merge → whole doc redacted
    val red = TextOps.decontaminateRedact(docs, bench, k = 3)
      .select("doc_id", "text", "n_words_removed")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(red == Map(
      1L -> (("q", 4L)), 2L -> (("p q", 3L)),
      3L -> (("m n o p q", 0L)), 4L -> (("", 6L))), red)
    spark.catalog.clearCache()
  }

  test("repeatedSpans: planted passage found at word offsets; strip keeps lowest doc") {
    import spark.implicits._
    // a 12-word passage planted in docs 1, 5, 9 at different offsets and
    // TWICE (adjacent) in doc 20; filler words are unique per doc so no
    // accidental anchors exist. k=4, minWords=8.
    val p = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"f1a f1b $p f1c"),
      (5L, s"$p f5a f5b f5c"),
      (9L, s"f9a $p"),
      (20L, s"$p $p"),
      (30L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text")
    val spans = TextOps.repeatedSpans(docs, k = 4, minWords = 8)
      .as[(Long, Long, Long, Long, String)].collect()
    val byDoc = spans.map { case (d, s, e, n, h) => ((d, s, e), (n, h)) }.toMap
    assert(byDoc.keySet == Set(
      (1L, 3L, 14L), (5L, 1L, 12L), (9L, 2L, 13L), (20L, 1L, 12L), (20L, 13L, 24L)),
      byDoc.keySet)
    assert(spans.map(_._4).toSet == Set(12L)) // every span is the passage
    assert(spans.map(_._5).toSet.size == 1,   // ...and hashes as ONE cluster
      spans.map(_._5).toSet)
    // strip: the LOWEST doc id of each match keeps its occurrence; doc
    // 20's two adjacent strips merge into one interval (whole doc)
    val stripped = TextOps.stripRepeatedSpans(docs, k = 4, minWords = 8)
      .select("doc_id", "text", "n_words_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stripped(1L) == (("f1a f1b " + p + " f1c", 0L)), stripped(1L))
    assert(stripped(5L) == (("f5a f5b f5c", 12L)))
    assert(stripped(9L) == (("f9a", 12L)))
    assert(stripped(20L) == (("", 24L)))
    assert(stripped(30L)._2 == 0L)
    // a doc shorter than k words passes through untouched (no shingles)
    val tiny = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val tinyOut = TextOps.stripRepeatedSpans(tiny, k = 4, minWords = 8)
      .select("doc_id", "n_words_removed").as[(Long, Long)].collect().toMap
    assert(tinyOut == Map(1L -> 0L, 2L -> 0L))
    // minWords < k is a loud contract violation, not silent under-detection
    intercept[IllegalArgumentException](
      TextOps.repeatedSpans(docs, k = 8, minWords = 4).collect())
    spark.catalog.clearCache()
  }

  test("stripRepeatedSpansFromSpans equals the pairwise recompute path") {
    import spark.implicits._
    def stripSig(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("n_words_removed"),
          md5(col("text").cast("binary")).as("h"))
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    // adversarial shape for the per-passage keep-the-minimum rule: docs
    // 4 and 6 share a LONGER passage (X + y-context) than either shares
    // with doc 2 (X alone), so the span table holds two distinct
    // passage_md5 groups whose intervals nest — the equivalence relies
    // on merged-coverage subsumption, which this corpus exercises
    val p = (1 to 12).map(i => s"p$i").mkString(" ")
    val y = (1 to 8).map(i => s"y$i").mkString(" ")
    val planted = Seq(
      (2L, s"f2a $p f2b"),
      (4L, s"$p $y f4a"),
      (6L, s"f6a f6b $p $y"),
      (9L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")).toDF("doc_id", "text")
    val direct = stripSig(TextOps.stripRepeatedSpans(planted, k = 4, minWords = 8))
    val viaSpans = stripSig(TextOps.stripRepeatedSpansFromSpans(
      planted, TextOps.repeatedSpans(planted, k = 4, minWords = 8)))
    assert(direct == viaSpans, s"$direct vs $viaSpans")
    // doc 2 keeps X (minimum of X's group); doc 4 loses X (to doc 2)
    // but KEEPS the y-context (minimum of the X+y group); doc 6 loses
    // the whole X+y passage
    assert(direct.find(_._1 == 2L).get._2 == 0L)
    assert(direct.find(_._1 == 4L).get._2 == 12L)
    assert(direct.find(_._1 == 6L).get._2 == 20L)
    // and on the real sf0.001 corpus with the driver-query parameters
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val d2 = stripSig(TextOps.stripRepeatedSpans(docs, k = 5, minWords = 10))
    val v2 = stripSig(TextOps.stripRepeatedSpansFromSpans(
      docs, TextOps.repeatedSpans(docs, k = 5, minWords = 10)))
    assert(d2 == v2)
    spark.catalog.clearCache()
  }

  test("sampleMix: deterministic portable draws, exact thresholds") {
    import spark.implicits._
    val docs = (0L until 400L).map(i => (i, s"w$i", s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sampleMix(docs,
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0), salt = "mix")
      .select("doc_id", "source", "mix_bucket")
      .as[(Long, String, Long)].collect()
    // rate 1.0 keeps every doc, rate 0.0 and absent sources keep none
    assert(out.count(_._2 == "src0") == 100)
    assert(out.count(_._2 == "src2") == 0)
    assert(out.count(_._2 == "src3") == 0)
    // every surviving src1 draw is under floor(0.5 · 16^6)
    val kept1 = out.filter(_._2 == "src1")
    assert(kept1.forall(_._3 < (TextOps.MixBucketDomain / 2)))
    assert(kept1.nonEmpty && kept1.length < 100) // a real subsample
    // the draw is pinned to the md5 formula: first 6 hex digits of
    // md5("40:mix") = 5904215 (doc 40 is src0, rate 1.0 — always kept;
    // portable to the oracle's cast('0x…' as bigint) form)
    val b40 = out.find(_._1 == 40L)
    assert(b40.exists(_._3 == 5904215L), b40)
    // redraw under a different salt is a different (still valid) sample
    val salted = TextOps.sampleMix(docs, Map("src1" -> 0.5), salt = "other")
      .select("doc_id").as[Long].collect().toSet
    assert(salted != kept1.map(_._1).toSet)
    // deterministic under any partitioning: same rows from a repartition
    val rep = TextOps.sampleMix(docs.repartition(7), Map("src1" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(rep == kept1.map(_._1).toSet)
    intercept[IllegalArgumentException](TextOps.sampleMix(docs, Map.empty))
    intercept[IllegalArgumentException](
      TextOps.sampleMix(docs, Map("src0" -> 1.5)))
  }

  test("selectTopFraction: exact ranked selection, no single-partition stage") {
    import spark.implicits._
    // scores with heavy ties so the doc_id tiebreak decides real cases
    val docs = (0L until 1000L).map(i => (i, (1 to (3 + (i % 7).toInt))
      .map(j => s"t${i % 13}x$j").mkString(" ")))
      .toDF("doc_id", "text").repartition(9)
    val score = size(array_distinct(split(col("text"), " "))).cast("long")
    val got = TextOps.selectTopFraction(docs, score, 0.25)
      .select("doc_id", "score", "global_rank")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    // driver-side reference: same total order, same k formula
    val all = docs.select(col("doc_id"), score.as("s")).as[(Long, Long)]
      .collect().sortBy { case (d, s) => (-s, d) }
    val k = math.ceil(0.25 * all.length).toLong
    val want = all.take(k.toInt).zipWithIndex
      .map { case ((d, s), i) => (d, s, (i + 1).toLong) }.toSeq
    assert(got.toSeq == want)
    // the ranked relation must NOT funnel through one partition — that
    // is the whole point of the operator vs the naive global window
    val parts = spark.sessionState.conf.numShufflePartitions
    assert(parts > 1)
    // frac = 1.0 keeps everything, rank is a permutation of 1..n
    val full = TextOps.selectTopFraction(docs, score, 1.0)
      .select("global_rank").as[Long].collect().sorted
    assert(full.toSeq == (1L to 1000L))
    intercept[IllegalArgumentException](
      TextOps.selectTopFraction(docs, score, 0.0))
    spark.catalog.clearCache()
  }

  test("selectTopFractionFilter: kept set == ranked path's, no ranks") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, (1 to (3 + (i % 7).toInt))
      .map(j => s"t${i % 13}x$j").mkString(" ")))
      .toDF("doc_id", "text").repartition(9)
    val score = size(array_distinct(split(col("text"), " "))).cast("long")
    val viaRank = TextOps.selectTopFraction(docs, score, 0.25)
      .select("doc_id", "score").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    val viaFilter = TextOps.selectTopFractionFilter(docs, score, 0.25)
      .select("doc_id", "score").as[(Long, Long)].collect().toSet
    assert(viaFilter == viaRank)
    // full-row columns survive the filter path untouched
    val cols = TextOps.selectTopFractionFilter(docs, score, 0.25).columns.toSeq
    assert(cols == Seq("doc_id", "text", "score"))
    // frac = 1.0 keeps everything
    assert(TextOps.selectTopFractionFilter(docs, score, 1.0).count() == 1000L)
    // empty input → empty output, no crash on the cutoff lookup
    assert(TextOps.selectTopFractionFilter(
      docs.where(lit(false)), score, 0.5).count() == 0L)
    intercept[IllegalArgumentException](
      TextOps.selectTopFractionFilter(docs, score, 1.5))
  }

  test("sampleCapPerKey: exact salted top-k per key, subgroup-invariant") {
    import spark.implicits._
    // one hot key (700 rows), some medium keys, some below-cap keys
    val rows = (0L until 1000L).map { i =>
      val key = if (i < 700) "hot" else if (i < 940) s"k${i % 6}" else s"solo$i"
      (i, key)
    }
    val df = rows.toDF("id", "key").repartition(7)
    val got = TextOps.sampleCapPerKey(df, col("key"), col("id"), 5)
      .select("id", "key", "cap_bucket", "cap_rank")
      .as[(Long, String, Long, Long)].collect()
    // driver-side reference: md5 draw + per-key sort + cap
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:cap".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16)
    }
    val want = rows.groupBy(_._2).toSeq.flatMap { case (k, rs) =>
      rs.map { case (i, _) => (i, k, bucket(i)) }
        .sortBy { case (i, _, b) => (b, i) }.take(5).zipWithIndex
        .map { case ((i, k2, b), r) => (i, k2, b, (r + 1).toLong) }
    }
    assert(got.toSeq.sortBy(r => (r._2, r._4)) == want.sortBy(r => (r._2, r._4)))
    // every key capped at 5; below-cap keys keep all their rows
    val perKey = got.groupBy(_._2).view.mapValues(_.length)
    assert(perKey("hot") == 5)
    assert(rows.count(_._2.startsWith("solo")) ==
      got.count(_._2.startsWith("solo")))
    // correctness is subgroup-count-invariant (1 disables stage-1 split)
    val g1 = TextOps.sampleCapPerKey(df, col("key"), col("id"), 5, subgroups = 1)
      .select("id", "key", "cap_bucket", "cap_rank")
      .as[(Long, String, Long, Long)].collect()
    assert(g1.toSeq.sortBy(r => (r._2, r._4)) == got.toSeq.sortBy(r => (r._2, r._4)))
    intercept[IllegalArgumentException](
      TextOps.sampleCapPerKey(df, col("key"), col("id"), 0))
  }

  test("dedupIncremental: exact/near/new verdicts vs a fingerprint snapshot") {
    import spark.implicits._
    def run30(tag: String) = (1 to 30).map(j => s"$tag$j").mkString(" ")
    val corpus = Seq(
      "c1" -> run30("a"),
      "c2" -> run30("b"),
      "c5" -> run30("b"),          // second exact copy: match must pick min id
      "c3" -> "p q r p q r p",
      "c6" -> "p q r p q r p q r", // same shingle SET as c3 (distinct text)
      "c4" -> "tiny doc"           // < k words: exact-only fingerprint
    ).toDF("doc_id", "text")
    val newb = Seq(
      "n1" -> run30("b"),          // exact dup of c2/c5 → min id c2
      "n2" -> "p q r p q r p q",   // shingle set == c3/c6, text differs →
                                   // near, est exactly 1.0, tie → c3
      "n3" -> run30("z"),          // novel long doc
      "n4" -> "tiny doc",          // exact dup of the shingle-less c4
      "n5" -> "um doc"             // novel shingle-less doc
    ).toDF("doc_id", "text")
    val prints = TextOps.corpusFingerprints(corpus)
    // empty-sig contract: shingle-less docs carry sig = [] in the snapshot
    val sigSizes = prints.select(col("doc_id"), size(col("sig")))
      .as[(String, Int)].collect().toMap
    assert(sigSizes("c4") == 0 && sigSizes("c2") == 8)
    val got = TextOps.dedupIncremental(newb, prints)
      .as[(String, String, Option[String], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("n1") == (("exact", Some("c2"), Some(1.0))))
    assert(got("n2") == (("near", Some("c3"), Some(1.0))))
    assert(got("n3") == (("new", None, None)))
    assert(got("n4") == (("exact", Some("c4"), Some(1.0))))
    assert(got("n5") == (("new", None, None)))
    // snapshot side streams through map-side probes: broadcast joins,
    // no sort-merge anywhere in the plan
    val res = TextOps.dedupIncremental(newb, prints)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      plan.take(2000))
    // the shuffle fallback must produce the identical verdict table
    val shuf = TextOps.dedupIncremental(newb, prints, broadcastNew = false)
      .as[(String, String, Option[String], Option[Double])].collect().toSet
    assert(shuf == got.map { case (d, (v, m, e)) => (d, v, m, e) }.toSet)
    intercept[IllegalArgumentException](
      TextOps.dedupIncremental(newb, prints, minEstJaccard = 0.0))
    spark.catalog.clearCache()
  }

  test("ingestBatch: successive batches dedup against earlier survivors") {
    import spark.implicits._
    def run30(tag: String) = (1 to 30).map(j => s"$tag$j").mkString(" ")
    val corpus = Seq("c1" -> run30("a")).toDF("doc_id", "text")
    val prints0 = TextOps.corpusFingerprints(corpus)
    // batch 1: one novel doc (admitted), one exact dup of the corpus
    val b1 = Seq("d1" -> run30("q"), "d2" -> run30("a")).toDF("doc_id", "text")
    val (v1, prints1) = TextOps.ingestBatch(b1, prints0)
    val got1 = v1.select("doc_id", "verdict", "match_id")
      .as[(String, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got1("d1") == (("new", None)))
    assert(got1("d2") == (("exact", Some("c1"))))
    // the snapshot grew by EXACTLY the survivor (d1), not the dup
    assert(prints1.select("doc_id").as[String].collect().toSet ==
      Set("c1", "d1"))
    // batch 2: an exact dup of batch 1's SURVIVOR — catchable only
    // because the snapshot was appended; plus a dup of the dropped d2
    // text, which must match the CANONICAL c1, not the absent d2
    val b2 = Seq("e1" -> run30("q"), "e2" -> run30("a")).toDF("doc_id", "text")
    val (v2, prints2) = TextOps.ingestBatch(b2, prints1)
    val got2 = v2.select("doc_id", "verdict", "match_id")
      .as[(String, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got2("e1") == (("exact", Some("d1"))))
    assert(got2("e2") == (("exact", Some("c1"))))
    assert(prints2.select("doc_id").as[String].collect().toSet ==
      Set("c1", "d1"))
    // admitNear = true fingerprints near-dups too
    val nearDoc = Seq("f1" -> "p q r p q r p").toDF("doc_id", "text")
    val base = Seq("c9" -> "p q r p q r p q r").toDF("doc_id", "text")
    val (v3, prints3) = TextOps.ingestBatch(nearDoc,
      TextOps.corpusFingerprints(base), admitNear = true)
    assert(v3.select("verdict").as[String].collect().toSeq == Seq("near"))
    assert(prints3.select("doc_id").as[String].collect().toSet ==
      Set("c9", "f1"))
    spark.catalog.clearCache()
  }

  test("redactPii: emails then phones, counts exact, non-PII untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jo.do+1@ex.co and JANE_99@sub.domain.org now"),
      (2L, "call +1 (555) 010-9999 ok"),
      (3L, "mixed u5@a.io then +44 20 7946 0958 done"),
      (4L, "no pii here just words"),
      (5L, "a@b and 12345 are too short to match")).toDF("doc_id", "text")
    val out = TextOps.redactPii(docs)
      .select("doc_id", "text", "n_emails", "n_phones")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("reach me at <EMAIL> and <EMAIL> now", 2L, 0L)), out(1L))
    assert(out(2L) == (("call <PHONE> ok", 0L, 1L)), out(2L))
    assert(out(3L) == (("mixed <EMAIL> then <PHONE> done", 1L, 1L)), out(3L))
    assert(out(4L) == (("no pii here just words", 0L, 0L)))
    // sub-threshold shapes (no TLD / too few digits) must NOT match
    assert(out(5L) == (("a@b and 12345 are too short to match", 0L, 0L)), out(5L))
  }

  test("dedupLines: df-threshold drop, blank/within-doc/order semantics") {
    import spark.implicits._
    // footer 'f' in docs 1,2,3 (df 3 ≥ minDf 2 → drops, BOTH copies in
    // doc 1); 'rare' in doc 4 only (df 1 → survives); blank lines are
    // structure (df would be 4) and must survive; doc 5 becomes empty
    val docs = Seq(
      (1L, "alpha\nf\n\nbeta\nf"),
      (2L, "f\ngamma"),
      (3L, "delta\n\nf"),
      (4L, "rare\nepsilon"),
      (5L, "f")).toDF("doc_id", "text")
    val out = TextOps.dedupLines(docs, minDf = 2)
      .select("doc_id", "text", "n_lines_removed")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("alpha\n\nbeta", 2L)), out(1L))
    assert(out(2L) == (("gamma", 1L)), out(2L))
    assert(out(3L) == (("delta\n", 1L)), out(3L))
    assert(out(4L) == (("rare\nepsilon", 0L)), out(4L))
    assert(out(5L) == (("", 1L)), out(5L))
    // within-doc repetition alone is NOT corpus boilerplate
    val solo = Seq((1L, "x\nx\nx"), (2L, "y")).toDF("doc_id", "text")
    val s1 = TextOps.dedupLines(solo, minDf = 2)
      .where(col("doc_id") === 1L).select("text").as[String].head()
    assert(s1 == "x\nx\nx")
    intercept[IllegalArgumentException] { TextOps.dedupLines(docs, minDf = 1) }
  }

  test("compactCells: cascade, puncture, pentagon family-6, roundtrip") {
    import spark.implicits._
    def names(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(F.cellString(col("cell_id"))).as[String].collect().toSet
    def fromNames(s: Seq[String]) =
      s.toDF("name").select(F.cellFromString(col("name")).as("cell_id"))
    // full two-level cover cascades to the single parent
    val full = GridOps.gridCellsFromCoarseCells(
      Seq("023").toDF("p"), "p", 3).select("cell_id")
    assert(names(GridOps.compactCells(full)) == Set("023"))
    // puncture one leaf: its family survives at res 3, the other six
    // families compact to res 2, nothing reaches res 1
    val punctured = full.where(F.cellString(col("cell_id")) =!= "02340")
    assert(names(GridOps.compactCells(punctured)) ==
      Set("0230", "0231", "0232", "0233", "0235", "0236",
        "02341", "02342", "02343", "02344", "02345", "02346"))
    // pentagon cascade: 6 (not 7) children complete a pentagon family,
    // two levels deep ("000" is itself reconstructed mid-loop)
    val pent = fromNames(Seq("001", "003", "004", "005", "006",
      "0000", "0001", "0003", "0004", "0005", "0006"))
    assert(names(GridOps.compactCells(pent)) == Set("00"))
    // 6 hexagon children do NOT compact (need 7)
    val hexSix = fromNames(Seq("0230", "0231", "0232", "0233", "0234", "0235"))
    assert(names(GridOps.compactCells(hexSix)) ==
      Set("0230", "0231", "0232", "0233", "0234", "0235"))
    // roundtrip: uncompact(compact(S), r) == S for uniform-res S
    val s0 = punctured
    assert(names(GridOps.uncompactCells(GridOps.compactCells(s0), 3)) ==
      names(s0))
    // uncompact to a res coarser than an input cell raises loudly
    val e = intercept[org.apache.spark.SparkException] {
      GridOps.uncompactCells(fromNames(Seq("02345")), 2).collect()
    }
    assert(e.getMessage != null)
    // 4T variant: family size 4 (no pentagon case), same loop — a full
    // two-level triangle cover cascades to its base cell and a 3-of-4
    // family does NOT compact
    val t4 = Grids.isea4t
    val t4full = Seq("05").toDF("p")
      .select(explode(F.descendantsAt(F.cellFromString(col("p"), t4), lit(2), t4))
        .as("cell_id"))
    assert(GridOps.compactCells(t4full, kernel = t4)
      .select(F.cellString(col("cell_id"), t4)).as[String].collect().toSet
      == Set("05"))
    val t4punct = t4full.where(F.cellString(col("cell_id"), t4) =!= "0500")
    assert(GridOps.compactCells(t4punct, kernel = t4)
      .select(F.cellString(col("cell_id"), t4)).as[String].collect().toSet
      == Set("051", "052", "053", "0501", "0502", "0503"))
    // keyed compaction: identical cell sets under two keys compact
    // independently (no cross-key family completion)
    val twoKeys = Seq("a", "b").toDF("k").crossJoin(full)
    val ck = GridOps.compactCells(twoKeys, keyCols = Seq("k"))
    assert(ck.select(F.cellString(col("cell_id")), col("k"))
      .as[(String, String)].collect().toSet == Set("023" -> "a", "023" -> "b"))
    // a family split across keys must NOT compact
    val split7 = GridOps.gridCellsFromCoarseCells(Seq("023").toDF("p"), "p", 2)
      .withColumn("k", when(col("name") === "0230", lit("a")).otherwise(lit("b")))
      .select("k", "cell_id")
    assert(GridOps.compactCells(split7, keyCols = Seq("k")).count() == 7L)
    spark.catalog.clearCache()
  }

  test("compactCells on ISEA3H/4H/43H: cascade, cap family-1, puncture, roundtrip") {
    import spark.implicits._
    val (h3, h4, h43) = (Grids.isea3h, Grids.isea4h, Grids.isea43h(3))
    def n3(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(F.cellString(col("cell_id"), h3)).as[String].collect().toSet
    def n4h(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(F.cellString(col("cell_id"), h4)).as[String].collect().toSet
    // aperture-3: full two-level quad cover cascades; 2-of-3 family stays
    val full3 = Seq("05").toDF("p")
      .select(explode(F.descendantsAt(F.cellFromString(col("p"), h3), lit(2), h3))
        .as("cell_id"))
    assert(n3(GridOps.compactCells(full3, kernel = h3)) == Set("05"))
    val punct3 = full3.where(F.cellString(col("cell_id"), h3) =!= "0500")
    assert(n3(GridOps.compactCells(punct3, kernel = h3)) ==
      Set("051", "052", "0501", "0502"))
    // cap rule: the lone descendant chain compacts to the base (family 1)
    val cap3 = Seq("000000").toDF("n")
      .select(F.cellFromString(col("n"), h3).as("cell_id"))
    assert(n3(GridOps.compactCells(cap3, kernel = h3)) == Set("00"))
    // but a QUAD cell with a single child does NOT compact
    val lone3 = Seq("0500").toDF("n")
      .select(F.cellFromString(col("n"), h3).as("cell_id"))
    assert(n3(GridOps.compactCells(lone3, kernel = h3)) == Set("0500"))
    // roundtrip on the uniform-res punctured set
    assert(n3(GridOps.uncompactCells(GridOps.compactCells(punct3, kernel = h3), 2, kernel = h3)) ==
      n3(punct3))
    // aperture-4: family 4 on quads, cap 11 chain, 3-of-4 stays
    val full4 = Seq("05").toDF("p")
      .select(explode(F.descendantsAt(F.cellFromString(col("p"), h4), lit(2), h4))
        .as("cell_id"))
    assert(n4h(GridOps.compactCells(full4, kernel = h4)) == Set("05"))
    val punct4 = full4.where(F.cellString(col("cell_id"), h4) =!= "0500")
    assert(n4h(GridOps.compactCells(punct4, kernel = h4)) ==
      Set("051", "052", "053", "0501", "0502", "0503"))
    val cap4 = Seq("11000").toDF("n")
      .select(F.cellFromString(col("n"), h4).as("cell_id"))
    assert(n4h(GridOps.compactCells(cap4, kernel = h4)) == Set("11"))
    assert(n4h(GridOps.uncompactCells(GridOps.compactCells(punct4, kernel = h4), 2, kernel = h4)) ==
      n4h(punct4))
    // mixed aperture (n4=3): a full res-4 cover under a res-3 parent
    // needs only 3 children per family at level 4 (aperture 3) but 4 at
    // level 3 (aperture 4) — compaction crosses the boundary exactly
    def n43(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(F.cellString(col("cell_id"), h43)).as[String].collect().toSet
    val full43 = Seq("0520").toDF("p")
      .select(explode(F.descendantsAt(F.cellFromString(col("p"), h43), lit(4), h43))
        .as("cell_id"))
    assert(full43.count() == 12L) // 4 level-3 children x 3 level-4 children
    assert(n43(GridOps.compactCells(full43, kernel = h43)) == Set("0520"))
    val punct43 = full43.where(F.cellString(col("cell_id"), h43) =!= "052000")
    assert(n43(GridOps.compactCells(punct43, kernel = h43)) ==
      Set("05201", "05202", "05203", "052001", "052002"))
    spark.catalog.clearCache()
  }

  test("hex whole-earth rank bijection == kernel index enumeration (3H/4H/43H)") {
    import spark.implicits._
    // the native-arithmetic range path must produce EXACTLY the codec's
    // descendant set (caps included) — set equality at res 4 per kernel
    def got(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("cell_id")).as[Long].collect().toSet
    locally {
      import graft.dggs.Z3
      val want = (0 to 11).flatMap(b => Grids.isea3h.descendants(Z3.pack(b, Seq.empty), 4)).toSet
      assert(want.size == 10 * 81 + 2)
      assert(got(GridOps.gridCellIdsForExtent(spark, 4, None, Grids.isea3h)) == want)
    }
    locally {
      import graft.dggs.Z4
      val want = (0 to 11).flatMap(b => Grids.isea4h.descendants(Z4.pack(b, Seq.empty), 4)).toSet
      assert(want.size == 10 * 256 + 2)
      assert(got(GridOps.gridCellIdsForExtent(spark, 4, None, Grids.isea4h)) == want)
    }
    locally {
      import graft.dggs.Z4
      val g = Grids.isea43h(3)
      // res 4 crosses the 4->3 boundary: 4^3 x 3 per quad
      val want = (0 to 11).flatMap(b => g.descendants(Z4.pack(b, Seq.empty), 4)).toSet
      assert(want.size == 10 * 64 * 3 + 2)
      assert(got(GridOps.gridCellIdsForExtent(spark, 4, None, g)) == want)
    }
  }

  test("hex extent ids: clip-pruned expansion == brute-force refine, incl. wrap box") {
    import spark.implicits._
    // brute force: enumerate EVERY cell at the target res driver-side
    // through the pure kernel and apply the same center-or-vertex-in-box
    // refine — equality proves the levelwise margin pruning is LOSSLESS
    // (and the final refine makes it exact, not a margin band)
    def inBox(lon: Double, lat: Double, b: (Double, Double, Double, Double)): Boolean = {
      val (lonMin, latMin, lonMax, latMax) = b
      val lonOk = if (lonMin <= lonMax) lon >= lonMin && lon <= lonMax
                  else lon >= lonMin || lon <= lonMax // antimeridian box
      lonOk && lat >= latMin && lat <= latMax
    }
    val midBox = (20.2, 57.0, 28.4, 60.0)
    val wrapBox = (175.0, -20.0, -175.0, -10.0)
    // pole-touching full-longitude cap: exercises the lat clamp, the
    // full-lon sampling fallback, and the degenerate-lon pole samples
    val polarBox = (-180.0, 85.0, 180.0, 90.0)
    // lon-BOUNDED box above 85°: the round-8 review case — an 85° cos
    // clamp both under-pads the sample grid and inflates the fast-path
    // interiority proof up here
    val highLatBox = (0.0, 86.0, 60.0, 89.0)
    def check(kernel: String, res: Int,
              allCells: => Seq[Long],
              center: Long => graft.dggs.Sphere.GeoRad,
              boundary: Long => Array[graft.dggs.Sphere.GeoRad],
              run: (Double, Double, Double, Double) => org.apache.spark.sql.DataFrame): Unit = {
      val cells = allCells
      for (b <- Seq(midBox, wrapBox, polarBox, highLatBox)) {
        val brute = cells.filter { z =>
          val c = center(z)
          inBox(c.lonDeg, c.latDeg, b) ||
            boundary(z).exists(v => inBox(v.lonDeg, v.latDeg, b))
        }.toSet
        val got = run(b._1, b._2, b._3, b._4)
          .select(col("cell_id")).as[Long].collect().toSet
        assert(got.nonEmpty, s"$kernel $b empty")
        assert(got == brute, s"$kernel $b: extra=${got -- brute} missing=${brute -- got}")
      }
    }
    locally {
      import graft.dggs.Z3
      val g = Grids.isea3h
      check("3H", 6,
        (0 to 11).flatMap(bse => g.descendants(Z3.pack(bse, Seq.empty), 6)),
        g.cellCenter, g.cellBoundary,
        (a, c, d, e) => GridOps.gridCellIdsForExtent(spark, 6, Some((a, c, d, e)), g))
    }
    locally {
      import graft.dggs.Z4
      val g = Grids.isea4h
      check("4H", 5,
        (0 to 11).flatMap(bse => g.descendants(Z4.pack(bse, Seq.empty), 5)),
        g.cellCenter, g.cellBoundary,
        (a, c, d, e) => GridOps.gridCellIdsForExtent(spark, 5, Some((a, c, d, e)), g))
    }
    locally {
      import graft.dggs.Z4
      val g = Grids.isea43h(3)
      check("43H", 5,
        (0 to 11).flatMap(bse => g.descendants(Z4.pack(bse, Seq.empty), 5)),
        g.cellCenter, g.cellBoundary,
        (a, c, d, e) => GridOps.gridCellIdsForExtent(spark, 5, Some((a, c, d, e)), g))
    }
  }

  test("cellPyramid: level-from-level == direct, conservation, weights, raises") {
    import spark.implicits._
    val geo = CorpusOps.geoSpans(corpus(100))
    val cells = GridOps.cellsForGeoPoints(geo, "lon", "lat", 5).cache()
    val total = cells.count()
    val pyr = GridOps.cellPyramid(cells, minRes = 0).cache()
    // conservation: every level sums to the number of points
    val sums = pyr.groupBy("res").agg(sum("n").as("s"))
      .as[(Int, Long)].collect().toMap
    assert(sums.keySet == (0 to 5).toSet)
    assert(sums.values.forall(_ == total), sums)
    // level-from-level equals direct aggregation at an interior level
    val direct = cells
      .groupBy(F.cellString(F.z7AncestorAt(col("cell_id"), lit(2))).as("name"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    val lvl2 = pyr.where(col("res") === 2).select("name", "n")
      .as[(String, Long)].collect().toMap
    assert(lvl2 == direct)
    // weighted pyramid: doubling the weight doubles every level
    val weighted = GridOps.cellPyramid(
      cells.withColumn("wt", lit(2L)), minRes = 3, weightCol = Some("wt"))
    assert(weighted.where(col("res") === 3).agg(sum("n")).head().getLong(0)
      == 2 * total)
    // mixed-resolution input raises loudly (double counting)
    val mixed = cells.limit(5).select("cell_id").unionByName(
      cells.limit(5).select(F.z7AncestorAt(col("cell_id"), lit(2)).as("cell_id")))
    intercept[IllegalArgumentException] { GridOps.cellPyramid(mixed) }
    intercept[IllegalArgumentException] { GridOps.cellPyramid(cells, minRes = 9) }
    // known-res path (no bounds pass): identical output, and the inline
    // bit-probe check raises mid-scan on a wrong claim
    val pyrKnown = GridOps.cellPyramid(cells, minRes = 0, res = Some(5))
      .select("name", "res", "n").as[(String, Int, Long)].collect().toSet
    assert(pyrKnown ==
      pyr.select("name", "res", "n").as[(String, Int, Long)].collect().toSet)
    val e2 = intercept[Exception] {
      GridOps.cellPyramid(cells, minRes = 0, res = Some(4)).count()
    }
    assert(e2.getMessage.contains("expected uniform res 4"), e2.getMessage)
    spark.catalog.clearCache()
  }

  test("polygonIntersectsJoin == brute-force JTS over all pairs") {
    import spark.implicits._
    def box(id: Long, cx: Double, cy: Double, hw: Double, hh: Double) = {
      val (x0, x1, y0, y1) = (cx - hw, cx + hw, cy - hh, cy + hh)
      (id, f"POLYGON (($x0%.3f $y0%.3f, $x1%.3f $y0%.3f, $x1%.3f $y1%.3f, " +
        f"$x0%.3f $y1%.3f, $x0%.3f $y0%.3f))")
    }
    // deterministic scattered boxes incl. touching and contained cases
    val a = (0L until 15L).map(i =>
      box(i, (i * 37 % 200) - 100.0, (i * 17 % 100) - 50.0, 5.0, 3.0))
    val b = (0L until 20L).map(i =>
      box(i, (i * 53 % 200) - 100.0, (i * 29 % 100) - 50.0, 4.0, 6.0)) ++
      Seq(box(100L, (0L * 37 % 200) - 100.0, (0L * 17 % 100) - 50.0, 0.5, 0.5), // contained in a0
        box(101L, (0L * 37 % 200) - 100.0 + 9.0, (0L * 17 % 100) - 50.0, 4.0, 1.0)) // touches a0
    val pa = a.toDF("poly_id", "wkt")
    val pb = b.toDF("poly_id", "wkt")
    val got = SpatialOps.polygonIntersectsJoin(pa, pb, 3)
      .as[(Long, Long)].collect().toSet
    val want = (for ((ia, wa) <- a; (ib, wb) <- b
                    if JtsCache.intersectsWkt(wa, wb)) yield (ia, ib)).toSet
    assert(got == want,
      s"extra=${got -- want} missing=${want -- got}")
    assert(want.contains((0L, 100L)) && want.contains((0L, 101L)))
    spark.catalog.clearCache()
  }

  test("spatialJoin: local, distributed, uniform, compacted covers give one row set") {
    import spark.implicits._
    val geo = CorpusOps.geoSpans(corpus(120))
    val polySeq = Seq(
      ("trop", "POLYGON ((-30.0 -23.4, 60.0 -23.4, 60.0 23.4, -30.0 23.4, -30.0 -23.4))"),
      ("est", "POLYGON ((20.2 57.0, 28.4 57.0, 28.4 60.0, 20.2 60.0, 20.2 57.0))"))
    val polys = polySeq.toDF("poly_id", "wkt")
    val cover = SpatialOps.coverCellsDf(polys, 4).cache()
    val compacted = GridOps.compactCells(cover, keyCols = Seq("poly_id", "wkt"))
    val nFull = cover.count()
    val nComp = compacted.count()
    assert(nComp < nFull, s"compaction must shrink the cover: $nComp >= $nFull")
    // the tropics interior is deep homogeneous — multiple levels merge
    assert(compacted.select(F.resolution(col("cell_id"))).distinct().count() > 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "offset", "poly_id")
        .as[(String, Int, String)].collect().toSet
    // brute force: every point against every polygon
    val want = (for {
      (d, o, lon, lat) <- geo.select("doc_id", "offset", "lon", "lat")
        .as[(String, Int, Double, Double)].collect().toSeq
      (id, wkt) <- polySeq if JtsCache.contains(wkt, lon, lat)
    } yield (d, o, id)).toSet
    assert(want.nonEmpty)
    val inputs = Seq(
      "local" -> polys,
      "distributed" -> polys.repartition(2),
      "uniform cover" -> cover,
      "compacted cover" -> compacted)
    for ((label, in) <- inputs; bc <- Seq(None, Some(true), Some(false)))
      assert(rows(SpatialOps.spatialJoin(geo, "lon", "lat", in, 4, bc)) == want,
        s"$label, broadcastCovers=$bc")
    // an empty precomputed cover returns no rows
    for (bc <- Seq(None, Some(true), Some(false)))
      assert(SpatialOps.spatialJoin(geo, "lon", "lat", cover.limit(0), 4, bc).isEmpty)
    // cover finer than the point res raises loudly
    intercept[IllegalArgumentException] {
      SpatialOps.spatialJoin(geo, "lon", "lat", compacted, 3)
    }
    spark.catalog.clearCache()
  }

  test("dedupLines: precomputed boiler ≡ inline; stream arm ≡ batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val data = (0L until 60L).map(i =>
      (i, s"u$i body\nsubscribe now\nsect ${i % 3}\nrare $i"))
    val docs = data.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "n_lines_removed")
        .as[(Long, String, Long)].collect().toSet
    val boiler = TextOps.boilerplateLines(docs, 10).cache()
    val inline = rows(TextOps.dedupLines(docs, 10))
    assert(rows(TextOps.dedupLinesFromBoiler(docs, boiler)) == inline)
    // 'subscribe now' (df 60) and the 3 'sect' lines (df 20) drop;
    // u/rare lines (df 1) survive
    assert(inline.forall(_._3 == 2L), inline.take(3))
    // streaming arm over two micro-batches == the batch arm
    val boilerSet = boiler.as[String].collect().toSet
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = TextOps.dedupLinesStream(mem.toDF().toDF("doc_id", "text"), boilerSet)
    val q = out.writeStream.format("memory").queryName("linestream")
      .outputMode("append").start()
    mem.addData(data.take(40): _*)
    q.processAllAvailable()
    mem.addData(data.drop(40): _*)
    q.processAllAvailable()
    val streamed = spark.sql(
      "SELECT doc_id, text, n_lines_removed FROM linestream")
      .as[(Long, String, Long)].collect().toSet
    q.stop()
    assert(streamed == inline)
    // null text passes through as null in BOTH arms (no NPE)
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(7L, null: String))),
      docs.schema)
    def nullRow(df: org.apache.spark.sql.DataFrame) = {
      val r = df.select("doc_id", "text", "n_lines_removed").head()
      (r.getLong(0), r.isNullAt(1), r.isNullAt(2))
    }
    assert(nullRow(TextOps.dedupLinesFromBoiler(withNull, boiler))
      == ((7L, true, true)))
    assert(nullRow(TextOps.dedupLinesStream(withNull, boilerSet))
      == ((7L, true, true)))
    spark.catalog.clearCache()
  }

  test("cleanCorpusKeepLongest keeps the longest doc per cluster, ties to min id") {
    import spark.implicits._
    def t(d: Long, n: Int) = (d, (1 to n).map(i => s"w${d}x$i").mkString(" "))
    val docs = Seq(t(1, 12), t(2, 20), t(3, 12), t(10, 12), t(11, 12), t(20, 12))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val kept = TextOps.cleanCorpusKeepLongest(docs, 10, 5,
      TextOps.precomputedPairSource(pairs))
      .as[Long].collect().toSet
    // cluster {1,2,3}: doc 2 is longest → kept; {10,11}: equal lengths
    // → lowest id; doc 20 is a singleton → kept
    assert(kept == Set(2L, 10L, 20L), kept)
    // the min-id policy on the same input keeps doc 1 instead — the
    // policies genuinely diverge on this corpus
    val minKept = TextOps.cleanCorpus(docs, 10, 5,
      TextOps.precomputedPairSource(pairs)).as[Long].collect().toSet
    assert(minKept == Set(1L, 10L, 20L), minKept)
    spark.catalog.clearCache()
  }

  test("sampleToBudget: data-dependent rates equal the explicit-rate draw") {
    import spark.implicits._
    // srcA: 100 docs × 4 tokens = 400 total; srcB same; srcC unbudgeted
    val docs = (0L until 300L).map(i => (i, "t u v w", s"src${('A' + (i % 3).toInt).toChar}"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sampleToBudget(docs,
      Map("srcA" -> 10000L, "srcB" -> 200L))
      .select("doc_id", "source", "mix_bucket")
      .as[(Long, String, Long)].collect()
    // budget ≥ total → rate 1.0 → every doc kept
    assert(out.count(_._2 == "srcA") == 100)
    // unbudgeted source dropped
    assert(out.count(_._2 == "srcC") == 0)
    // budget/total = 0.5 → the kept set IS sampleMix's at rate 0.5
    // (identical threshold arithmetic — the data-dependent path must
    // not drift from the explicit-rate path by even one bucket)
    val viaRate = TextOps.sampleMix(docs, Map("srcB" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._2 == "srcB").map(_._1).toSet == viaRate)
    // realized tokens land near the budget (4 tokens/doc × kept docs)
    val gotTok = out.count(_._2 == "srcB") * 4
    assert(math.abs(gotTok - 200) <= 40, s"realized $gotTok vs budget 200")
    // budget 0 → threshold 0 → nothing survives
    val zero = TextOps.sampleToBudget(docs, Map("srcA" -> 0L)).count()
    assert(zero == 0)
    intercept[IllegalArgumentException](TextOps.sampleToBudget(docs, Map.empty))
    intercept[IllegalArgumentException](
      TextOps.sampleToBudget(docs, Map("srcA" -> -1L)))
  }

  test("packSequences: segments partition each doc; boundary chop exact") {
    import spark.implicits._
    def txt(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    // bucket 0 stream: 3 + 7 + 5 tokens; bucket 1 stream: 12 tokens
    val docs = Seq(
      (0L, txt(3, "a")), (2L, txt(7, "b")), (4L, txt(5, "c")),
      (1L, txt(12, "d"))).toDF("doc_id", "text")
    val out = TextOps.packSequences(docs, seqLen = 5, nBuckets = 2)
      .select("bucket", "doc_id", "n_tokens", "pack_id", "seg_start_w", "seg_end_w")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 0L, 3L, 0L, 1L, 3L),   // off 0: fills pack 0 to token 3
      (0L, 2L, 7L, 0L, 1L, 2L),   // off 3: words 1-2 finish pack 0...
      (0L, 2L, 7L, 1L, 3L, 7L),   // ...words 3-7 open pack 1
      (0L, 4L, 5L, 2L, 1L, 5L),   // off 10: exactly pack 2
      (1L, 1L, 12L, 0L, 1L, 5L), (1L, 1L, 12L, 1L, 6L, 10L),
      (1L, 1L, 12L, 2L, 11L, 12L)), out)
    // every pack except the last of each bucket holds exactly seqLen
    // tokens — the no-padding-waste invariant
    val packTok = out.groupBy(r => (r._1, r._4)).view
      .mapValues(_.map(r => r._6 - r._5 + 1).sum).toMap
    val lastPack = out.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
    packTok.foreach { case ((b, p), n) =>
      if (p < lastPack(b)) assert(n == 5L, s"bucket $b pack $p has $n tokens")
    }
    // token conservation on the real corpus: every token lands in
    // exactly one segment, and within-doc segments are contiguous
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val packed = TextOps.packSequences(corpus, seqLen = 64, nBuckets = 8)
    val tok = packed.agg(
      sum(col("seg_end_w") - col("seg_start_w") + 1).as("seg"),
      sum(when(col("seg_start_w") === 1, col("n_tokens")).otherwise(0L)).as("n"))
      .as[(Long, Long)].head()
    assert(tok._1 == tok._2, tok) // seg lengths sum to doc token total
    val gaps = packed
      .withColumn("prev_end", lag(col("seg_end_w"), 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pack_id")))
      .where(col("prev_end").isNotNull && col("seg_start_w") =!= col("prev_end") + 1)
      .count()
    assert(gaps == 0)
    // shuffled-epoch variant: identical conservation, but bucket and
    // order ride the md5 draw — bucket must equal draw % n for every
    // row, and the layout must actually differ from the doc_id order
    val shuf = TextOps.packSequences(corpus, 64, 8, shuffleSalt = Some("s1"))
    val tokS = shuf.agg(
      sum(col("seg_end_w") - col("seg_start_w") + 1).as("seg"),
      sum(when(col("seg_start_w") === 1, col("n_tokens")).otherwise(0L)).as("n"))
      .as[(Long, Long)].head()
    assert(tokS._1 == tokS._2, tokS)
    val badBucket = shuf.where(col("bucket") =!=
      expr("cast(conv(substr(md5(concat(cast(doc_id as string), ':s1')), 1, 6), 16, 10) as bigint) % 8"))
      .count()
    assert(badBucket == 0)
    val plain = TextOps.packSequences(corpus, 64, 8)
      .select("doc_id", "bucket", "pack_id", "seg_start_w").as[(Long, Long, Long, Long)]
      .collect().toSet
    val shufSet = shuf
      .select("doc_id", "bucket", "pack_id", "seg_start_w").as[(Long, Long, Long, Long)]
      .collect().toSet
    assert(plain != shufSet)
    intercept[IllegalArgumentException](TextOps.packSequences(docs, 0, 2))
    intercept[IllegalArgumentException](TextOps.packSequences(docs, 5, 0))
  }

  test("knnJoin equals brute force exactly (ring + escalation, 2k×8k points)") {
    import spark.implicits._
    // deterministic world-wide target set dense enough that most queries
    // resolve in-ring, sparse enough that some escalate — both paths hit
    val targets = (0 until 8000).map { i =>
      (s"t$i", -180.0 + (i * 9973 % 360000) / 1000.0, -90.0 + (i * 6271 % 180000) / 1000.0)
    }.toDF("t_id", "lon", "lat")
    val queries = (0 until 2000).map { i =>
      (s"q$i", -180.0 + (i * 7919 % 360000) / 1000.0, -90.0 + (i * 4409 % 180000) / 1000.0)
    }.toDF("q_id", "lon", "lat")
    val k = 4
    val got = SpatialOps.knnJoin(queries, targets, "lon", "lat", k, 2)
      .select("q_id", "rnk", "t_id").as[(String, Long, String)].collect().toSet
    // brute force reference (driver-side)
    val ts = targets.as[(String, Double, Double)].collect()
    def hav(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
      val dlat = math.toRadians(lat2 - lat1); val dlon = math.toRadians(lon2 - lon1)
      val a = math.pow(math.sin(dlat / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dlon / 2), 2)
      2.0 * graft.dggs.Sphere.EarthRadiusKm * math.asin(math.sqrt(a))
    }
    val want = queries.as[(String, Double, Double)].collect().flatMap {
      case (q, qlon, qlat) =>
        ts.map { case (t, tlon, tlat) => (t, tlon, tlat, hav(qlon, qlat, tlon, tlat)) }
          .sortBy { case (t, tlon, tlat, d) => (d, t, tlat, tlon) }
          .take(k).zipWithIndex
          .map { case ((t, _, _, _), i) => (q, (i + 1).toLong, t) }
    }.toSet
    assert(got == want)
  }

  test("distanceJoin equals brute force exactly; no duplicate pairs; contracts raise") {
    import spark.implicits._
    val lefts = (0 until 2000).map { i =>
      (s"l$i", -180.0 + (i * 7919 % 360000) / 1000.0, -90.0 + (i * 4409 % 180000) / 1000.0)
    }.toDF("l_id", "lon", "lat")
    val rights = (0 until 8000).map { i =>
      (s"r$i", -180.0 + (i * 9973 % 360000) / 1000.0, -90.0 + (i * 6271 % 180000) / 1000.0)
    }.toDF("r_id", "lon", "lat")
    val radius = 200.0
    val rows = SpatialOps.distanceJoin(lefts, rights, "lon", "lat", radius)
      .select("l_id", "r_id").as[(String, String)].collect()
    // exactly-once per qualifying pair: the bag equals its set
    assert(rows.length == rows.toSet.size)
    def hav(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
      val dlat = math.toRadians(lat2 - lat1); val dlon = math.toRadians(lon2 - lon1)
      val a = math.pow(math.sin(dlat / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dlon / 2), 2)
      2.0 * graft.dggs.Sphere.EarthRadiusKm * math.asin(math.sqrt(a))
    }
    val rs = rights.as[(String, Double, Double)].collect()
    val want = lefts.as[(String, Double, Double)].collect().flatMap {
      case (l, llon, llat) =>
        rs.filter { case (_, rlon, rlat) => hav(llon, llat, rlon, rlat) <= radius }
          .map { case (r, _, _) => (l, r) }
    }.toSet
    assert(rows.toSet == want)
    assert(want.nonEmpty) // the comparison must actually exercise matches
    // auto-res = finest certified res; an explicitly coarser res gives
    // the identical relation (completeness does not depend on res choice)
    val autoRes = SpatialOps.resForRadiusKm(radius, 2)
    assert(SpatialOps.diskSafeKm(autoRes, 2) >= radius)
    assert(autoRes == 15 ||
      SpatialOps.diskSafeKm(autoRes + 1, 2) < radius)
    val coarser = SpatialOps.distanceJoin(lefts, rights, "lon", "lat", radius,
        res = autoRes - 1)
      .select("l_id", "r_id").as[(String, String)].collect().toSet
    assert(coarser == want)
    // hot-cell salting is pure placement: forcing EVERY occupied cell
    // through the salted path (threshold 1 candidate) must reproduce
    // the identical relation
    val salted = SpatialOps.distanceJoin(lefts, rights, "lon", "lat", radius,
        hotCandidateThreshold = Some(1L), nSalts = 5)
      .select("l_id", "r_id").as[(String, String)].collect()
    assert(salted.length == salted.toSet.size)
    assert(salted.toSet == want)
    // contracts: uncertified explicit res, bad radius, column collision
    intercept[IllegalArgumentException](
      SpatialOps.distanceJoin(lefts, rights, "lon", "lat", radius, res = autoRes + 3))
    intercept[IllegalArgumentException](
      SpatialOps.distanceJoin(lefts, rights, "lon", "lat", -1.0))
    intercept[IllegalArgumentException](
      SpatialOps.distanceJoin(lefts, rights.withColumnRenamed("r_id", "l_id"),
        "lon", "lat", radius))
    intercept[IllegalArgumentException](SpatialOps.resForRadiusKm(1.0e9))
  }

  test("SQL surface: registered functions run a full pipeline in spark.sql") {
    graft.spark.GraftSql.register(spark)
    import spark.implicits._
    Seq((24.7, 59.4), (24.8, 59.5), (-122.7, 45.4)).toDF("lon", "lat")
      .createOrReplaceTempView("pts")
    val rows = spark.sql(
      """SELECT z7_string(z7_ancestor(c, 2)) AS name2, count(*) AS n,
        |       min(z7_seqnum(z7_ancestor(c, 2))) AS seq
        |FROM (SELECT z7_cell(lon, lat, 6) AS c FROM pts)
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == 3)
    assert(rows.forall(_.getAs[String]("name2").length == 4)) // res-2 string
    // round-trip + kernel agreement through SQL names
    val rt = spark.sql(
      """SELECT z7_from_string(z7_string(z7_cell(24.7, 59.4, 5))) =
        |       z7_cell(24.7, 59.4, 5) AS ok,
        |       t4_string(t4_cell(24.7, 59.4, 3)) AS t4,
        |       d4_string(d4_cell(24.7, 59.4, 3)) AS d4,
        |       round(to_geodetic_lat(to_authalic_lat(59.4)), 9) AS lat9""".stripMargin)
      .head()
    assert(rt.getAs[Boolean]("ok"))
    assert(rt.getAs[String]("t4").length == 5 && rt.getAs[String]("d4").length == 5)
    assert(rt.getAs[Double]("lat9") == 59.4)
    // round-3 registrations: k-disk and address frames
    val r3 = spark.sql(
      """SELECT size(z7_disk(z7_cell(24.7, 59.4, 4), 2)) AS disk2,
        |       z7_vertex2dd(z7_cell(24.7, 59.4, 4))._1 AS vtx,
        |       z7_projtri(z7_cell(24.7, 59.4, 4))._1 AS tri,
        |       z7_q2dd(z7_cell(24.7, 59.4, 4))._1 AS quad""".stripMargin).head()
    assert(r3.getAs[Int]("disk2") == 19) // interior hex: 1 + 6 + 12
    assert(r3.getAs[Int]("vtx") >= 0 && r3.getAs[Int]("vtx") <= 11)
    assert(r3.getAs[Int]("tri") >= 0 && r3.getAs[Int]("tri") < 20)
    assert(r3.getAs[Int]("quad") >= 1 && r3.getAs[Int]("quad") <= 10)
  }

  test("cellGeoJson emits a closed-ring GeoJSON feature with the Z7 name") {
    import spark.implicits._
    val z = graft.dggs.Z7.fromCellString("00123")
    val s = Seq(z).toDF("cell_id")
      .select(graft.spark.DggsFunctions.cellGeoJson(col("cell_id")))
      .as[String].head()
    assert(s.startsWith("""{"type":"Feature""""))
    assert(s.contains(""""name":"00123""""))
    val coords = """\[(-?[0-9.]+),(-?[0-9.]+)\]""".r.findAllIn(s).toSeq
    assert(coords.size == 7 && coords.head == coords.last) // closed hexagon
  }

  test("AIGEN output: closed-ring polygon record via addressTransform") {
    import spark.implicits._
    val cells = Seq("00123").toDF("name")
    val s = GridOps.addressTransform(cells, "name", "Z7_STRING", "AIGEN", 3)
      .select("out_addr").as[String].head()
    val lines = s.split("\n")
    val z = graft.dggs.Z7.fromCellString("00123")
    assert(lines.head == z.toString) // numeric id line
    assert(lines.last == "END")
    val verts = lines.drop(1).dropRight(1)
    assert(verts.length == 7 && verts.head == verts.last) // closed hexagon
    assert(verts.forall(_.matches("-?[0-9.]+ -?[0-9.]+")))
  }

  test("AIGEN input: round-trips the engine's own AIGEN records (round-3 ADVICE)") {
    import spark.implicits._
    val names = Seq("00123", "10045", "11012")
    val cells = names.toDF("name")
    val recs = GridOps.addressTransform(cells, "name", "Z7_STRING", "AIGEN", 3)
      .select(col("out_addr").as("rec"))
    val back = GridOps.addressTransform(recs, "rec", "AIGEN", "Z7_STRING", 3)
      .select("out_addr").as[String].collect().toSet
    assert(back == names.toSet, back)
    // CRLF id lines are tolerated; anything non-numeric raises instead of
    // casting to a silent null cell id (round-4 review finding)
    val crlf = recs.select(regexp_replace(col("rec"), "\n", "\r\n").as("rec"))
    val backCrlf = GridOps.addressTransform(crlf, "rec", "AIGEN", "Z7_STRING", 3)
      .select("out_addr").as[String].collect().toSet
    assert(backCrlf == names.toSet, backCrlf)
    // whitespace-padded id lines are accepted (the fixed-width Generate
    // export style the bare-cast era tolerated — the cast trims)
    val padded = recs.select(concat(lit("   "), col("rec")).as("rec"))
    val backPadded = GridOps.addressTransform(padded, "rec", "AIGEN", "Z7_STRING", 3)
      .select("out_addr").as[String].collect().toSet
    assert(backPadded == names.toSet, backPadded)
    // AIGEN_SEQNUM: DGGRID-produced AIGEN files carry SEQNUM ids on the
    // id line (round-4 ADVICE — under the plain AIGEN reading those
    // parse as valid longs but are WRONG cell ids); the _SEQNUM input
    // maps the id line through the seqnum decoder, so an engine
    // Z7→SEQNUM-id AIGEN record round-trips to the same cell
    val seqRecs = GridOps.addressTransform(cells, "name", "Z7_STRING", "SEQNUM", 3)
      .select(col("name"), concat(col("out_addr").cast("string"),
        lit("\n1.0 2.0\nEND")).as("rec"))
    val backSeq = GridOps.addressTransform(seqRecs, "rec", "AIGEN_SEQNUM", "Z7_STRING", 3)
      .select("out_addr").as[String].collect().toSet
    assert(backSeq == names.toSet, backSeq)
    // non-numeric, fractional, and >Long-range id lines all raise the
    // CURATED error in ANY ANSI mode (try_cast; a plain cast either
    // throws its own generic error first or — ANSI off — silently
    // truncates '42.9' to cell 42)
    for (badId <- Seq("not a number", "42.9", "99999999999999999999")) {
      val bad = Seq(s"$badId\n1.0 2.0\nEND").toDF("rec")
      val e = intercept[Exception] {
        GridOps.addressTransform(bad, "rec", "AIGEN", "Z7_STRING", 3).collect()
      }
      assert(e.getMessage.contains("malformed AIGEN id line"), e.getMessage)
    }
  }

  test("polar clip: pole-enclosing cell rings survive the cover refine") {
    import Sphere.GeoRad
    val g = Grids.default
    val res = 3
    val northCell = g.cellForPoint(GeoRad.fromDeg(90.0, 0.0), res)
    val southCell = g.cellForPoint(GeoRad.fromDeg(-90.0, 0.0), res)
    // a clip box covering each pole: the pole cell's boundary winds all
    // 360° of lon, so the old straddle-only unwrap produced degenerate
    // east/west bands that could miss the box entirely (round-3 ADVICE)
    val north = SpatialOps.coverCells(
      "POLYGON ((-180 88, 180 88, 180 90, -180 90, -180 88))", res).toSet
    assert(north.contains(northCell), s"north pole cell $northCell dropped")
    val south = SpatialOps.coverCells(
      "POLYGON ((-180 -90, 180 -90, 180 -88, -180 -88, -180 -90))", res).toSet
    assert(south.contains(southCell), s"south pole cell $southCell dropped")
    // no over-inclusion: a mid-latitude box keeps excluding the pole cells
    val est = SpatialOps.coverCells(
      "POLYGON ((20.2 57.0, 28.4 57.0, 28.4 60.0, 20.2 60.0, 20.2 57.0))", res).toSet
    assert(!est.contains(northCell) && !est.contains(southCell))
  }

  test("deep clipped generation fans out across partitions (round-4 fix)") {
    // the expansion seeds from a 12-row local relation; without the
    // repartition at the truncation stops the whole deep output sat in
    // 1-2 tasks regardless of cores (measured: flat 61-65 s wall from
    // 2 to 32 cores at res 12)
    val df = GridOps.gridCellIdsForExtent(spark, 6, Some((20.0, 55.0, 30.0, 62.0)))
    assert(df.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      s"deep generation still runs in ${df.rdd.getNumPartitions} partition(s)")
    assert(df.count() > 0)
  }

  test("antimeridian-crossing clip box equals the union of its split halves") {
    import spark.implicits._
    // lonMin > lonMax = wrapped box (round-4 verdict #3): must equal the
    // union of the two ordinary boxes it splits into at ±180°, for both
    // the hex (Z7) and triangle (4T) generation paths
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("cell_id").as[Long].collect().toSet
    val wrapped = ids(GridOps.gridCellIdsForExtent(spark, 4,
      Some((175.0, -20.0, -175.0, -10.0))))
    val halves =
      ids(GridOps.gridCellIdsForExtent(spark, 4, Some((175.0, -20.0, 180.0, -10.0)))) ++
        ids(GridOps.gridCellIdsForExtent(spark, 4, Some((-180.0, -20.0, -175.0, -10.0))))
    assert(wrapped == halves,
      s"${(wrapped -- halves).size} extra, ${(halves -- wrapped).size} missing")
    assert(wrapped.nonEmpty)
    val wrapped4T = ids(GridOps.gridCellIdsForExtent(spark, 5,
      Some((175.0, -20.0, -175.0, -10.0)), Grids.isea4t))
    val halves4T =
      ids(GridOps.gridCellIdsForExtent(spark, 5,
        Some((175.0, -20.0, 180.0, -10.0)), Grids.isea4t)) ++
        ids(GridOps.gridCellIdsForExtent(spark, 5,
          Some((-180.0, -20.0, -175.0, -10.0)), Grids.isea4t))
    assert(wrapped4T == halves4T)
    assert(wrapped4T.nonEmpty)
  }

  test("4T deep clipped generation: lineage-truncated, completes at res 12") {
    // round-3 verdict #4: without the every-4-levels localCheckpoint the
    // nested explode/UDF chain hits exponential plan-analysis time well
    // before res 12 — completing (quickly) IS the regression signal
    val t0 = System.nanoTime()
    val n = GridOps.gridCellIdsForExtent(spark, 12,
      Some((24.0, 58.0, 24.05, 58.05)), Grids.isea4t).count()
    val wall = (System.nanoTime() - t0) / 1e9
    assert(n > 0)
    // generous bound: nominal is tens of seconds, the guarded regression
    // (exponential plan analysis) is minutes-to-hours, and this shared VM
    // has ±20-40% contention noise — don't let noise fail the suite
    assert(wall < 300.0, f"res-12 clipped 4T generation took $wall%.1f s")
  }

  test("GeoJSON: multi-file fallback ids collide no more; NDJSON reader") {
    import spark.implicits._
    def fc(lon: Double) =
      s"""{"type": "FeatureCollection", "features": [
         |  {"type": "Feature", "properties": {},
         |   "geometry": {"type": "Polygon", "coordinates":
         |     [[[$lon, 0.0], [${lon + 1}, 0.0], [${lon + 1}, 1.0], [$lon, 0.0]]]}}
         |]}""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson-multi")
    java.nio.file.Files.write(dir.resolve("a.geojson"), fc(10.0).getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.geojson"), fc(20.0).getBytes("UTF-8"))
    val got = GeoSources.readGeoJsonPolygons(spark, dir.toString)
      .as[(String, String)].collect()
    // positional fallback alone would give BOTH features poly_id "0"
    assert(got.length == 2 && got.map(_._1).distinct.length == 2, got.toSeq)

    // NDJSON (feature-per-line): splittable layout, same (poly_id, wkt)
    val nd = Seq(
      """{"type": "Feature", "properties": {"name": "x"}, "geometry": {"type": "Polygon", "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]}}""",
      """{"type": "Feature", "properties": {"name": "y"}, "geometry": {"type": "Point", "coordinates": [5.0, 6.0]}}""")
    val ndFile = dir.resolve("feats.ndjson")
    java.nio.file.Files.write(ndFile, nd.mkString("\n").getBytes("UTF-8"))
    val gotNd = GeoSources.readGeoJsonFeaturesNdjson(spark, ndFile.toString, Some("name"))
      .as[(String, String)].collect().toMap
    assert(gotNd("x").startsWith("POLYGON"), gotNd)
    assert(gotNd("y") == "POINT (5.0 6.0)", gotNd)
    // content-keyed fallback id when no idProp is given
    val gotNd2 = GeoSources.readGeoJsonFeaturesNdjson(spark, ndFile.toString)
      .as[(String, String)].collect()
    assert(gotNd2.length == 2 && gotNd2.map(_._1).distinct.length == 2)
    // byte-identical geometries under the FALLBACK id raise instead of
    // silently collapsing to one id (round-4 ADVICE); the same file
    // read with idProp flows both rows through
    val dupFile = dir.resolve("dup.ndjson")
    java.nio.file.Files.write(dupFile,
      (nd.head + "\n" + nd.head.replace("\"x\"", "\"z\"")).getBytes("UTF-8"))
    val e = intercept[Exception] {
      GeoSources.readGeoJsonFeaturesNdjson(spark, dupFile.toString).collect()
    }
    assert(e.getMessage.contains("duplicate fallback poly_id"), e.getMessage)
    assert(GeoSources.readGeoJsonFeaturesNdjson(spark, dupFile.toString,
      Some("name")).count() == 2)
  }

  test("ring1: reciprocity and size over all res-2 cells") {
    val g = Grids.default
    var all: Seq[Long] = (0 to 11).map(b => Z7.pack(b, Seq.empty))
    for (_ <- 1 to 2) all = all.flatMap(Z7.children)
    val rings = all.map(z => z -> g.ring1(z).toSet).toMap
    for ((z, ring) <- rings) {
      val expect = if (Z7.isPentagon(z)) 5 else 6
      assert(ring.size == expect, s"${Z7.toCellString(z)} ring size ${ring.size}")
      for (n <- ring) assert(rings(n).contains(z), s"no reciprocity ${Z7.toCellString(z)}")
    }
  }

  test("seqnum: bijective over all res-3 cells, range 1..N") {
    var all: Seq[Long] = (0 to 11).map(b => Z7.pack(b, Seq.empty))
    for (_ <- 1 to 3) all = all.flatMap(Z7.children)
    val seqs = all.map(Seqnum.toSeqnum)
    assert(seqs.min == 1 && seqs.max == all.size && seqs.distinct.size == all.size)
    for ((z, s) <- all.zip(seqs)) assert(Seqnum.toZ7(s, 3) == z)
  }

  test("dateline split: pieces within hemispheres, epsilon seam, 1-2 pieces") {
    val ring = Seq((170.0, 10.0), (-175.0, 12.0), (-170.0, -5.0), (175.0, -8.0))
    val pieces = DatelineOps.splitRing(ring)
    assert(pieces.size == 2)
    for (p <- pieces; (lo, _) <- p) assert(lo >= -180.0 && lo <= 180.0)
    val east = pieces.filter(_.forall(_._1 >= 0))
    val west = pieces.filter(_.forall(_._1 <= 0))
    assert(east.nonEmpty && west.nonEmpty)
    assert(east.head.exists(c => math.abs(c._1 - 179.995) < 1e-9))
    assert(west.head.exists(c => math.abs(c._1 + 179.995) < 1e-9))
    // non-crossing ring untouched
    val plain = Seq((10.0, 10.0), (20.0, 10.0), (20.0, 20.0), (10.0, 20.0))
    assert(DatelineOps.splitRing(plain) == Seq(plain))
  }

  test("binPointPresence matches the Oregon golden output shape") {
    import spark.implicits._
    val cities = Seq(
      (-123.28, 44.57), (-122.87, 45.49), (-122.77, 45.43), (-123.09, 44.62),
      (-122.70, 45.41), (-123.02, 45.00), (-123.19, 45.21), (-122.60, 45.34),
      (-123.32, 42.44), (-122.77, 45.38), (-122.64, 45.37), (-122.62, 45.44),
      (-121.17, 45.60), (-122.86, 45.15), (-123.36, 43.22))
      .toDF("lon", "lat").withColumn("cls", lit("c0"))
    val out = GridOps.binPointPresence(cities, "lon", "lat", "cls", Seq("c0"), 4)
      .collect().map(r => (r.getAs[String]("name"), r.getAs[String]("presence"),
        r.getAs[Long]("num_classes"))).toSet
    // NOTE: golden uses the TEST orientation; with the default orientation
    // we assert the structural contract (3 occupied cells, presence "1")
    val testGrid = Grids.get(58.282525588538994675786, 11.20, 0.0)
    val goldenCells = cities.collect().map(r =>
      Z7.toCellString(testGrid.cellForPoint(
        Sphere.GeoRad.fromDeg(r.getDouble(1), r.getDouble(0)), 4))).toSet
    assert(goldenCells == Set("021114", "021116", "014626"))
    assert(out.forall { case (_, pres, nc) => pres == "1" && nc == 1L })
  }
}

/** Structured Streaming + Q2DI integration. */
class StreamingSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("graft-stream-test").getOrCreate()

  test("streaming cell assignment + windowed rollup over a memory stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Double, Double)]
    val stream = mem.toDF().toDF("ts", "lon", "lat")
    val out = StreamingOps.cellCountsWindowed(stream, "ts", "lon", "lat", 4,
      "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("cells")
      .outputMode("update").start()
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    mem.addData(
      (base, 24.7, 59.4), (base, 24.8, 59.5), (base, -122.7, 45.4),
      (new java.sql.Timestamp(base.getTime + 60 * 60 * 1000), 24.7, 59.4))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM cells").collect()
    q.stop()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == 4, s"expected 4 events, got $total in ${rows.length} windows")
    // the two Tallinn-area points at the same time share a window+cell
    assert(rows.exists(_.getAs[Long]("n") == 2))
  }

  test("streaming per-cell distinct estimates: sketch state merges across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Double, Double, String)]
    val out = StreamingOps.cellDistinctWindowed(
      mem.toDF().toDF("ts", "lon", "lat", "uid"), "ts", "lon", "lat", "uid",
      3, "10 minutes", "5 minutes", k = 64)
    val q = out.writeStream.format("memory").queryName("celldist")
      .outputMode("update").start()
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    // batch 1: three events in one Tallinn cell, two DISTINCT users
    mem.addData((base, 24.7, 59.4, "u1"), (base, 24.7, 59.4, "u2"),
      (base, 24.7, 59.4, "u1"))
    q.processAllAvailable()
    // batch 2, same window+cell: one repeat user + one new → the sketch
    // state must MERGE across micro-batches (3 distinct total, not 2)
    mem.addData((base, 24.7, 59.4, "u2"), (base, 24.7, 59.4, "u3"))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT distinct_est, n FROM celldist ORDER BY n DESC").collect()
    q.stop()
    // update mode emits the group after each batch; the LAST emission
    // (n = 5 events) carries the merged estimate — exact below k
    assert(rows.head.getLong(1) == 5L, rows.mkString(";"))
    assert(rows.head.getDouble(0) == 3.0, rows.mkString(";"))
  }

  test("streaming zonal counts: static cover join + windowed per-zone agg") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val polys = Seq(
      ("estonia", "POLYGON ((20.2 57.0, 28.4 57.0, 28.4 60.0, 20.2 60.0, 20.2 57.0))"),
      ("oregon", "POLYGON ((-124.6 42.0, -116.5 42.0, -116.5 46.3, -124.6 46.3, -124.6 42.0))"))
      .toDF("poly_id", "wkt")
    val cover = SpatialOps.coverCellsDf(polys, 4).cache()
    cover.count()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Double, Double)]
    val out = StreamingOps.zonalCountsWindowed(
      mem.toDF().toDF("ts", "lon", "lat"), "ts", "lon", "lat",
      cover, 4, "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("zonal")
      .outputMode("update").start()
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    // two Tallinn-area hits + one Portland hit + one outside any zone;
    // second batch adds a later-window Tallinn hit
    mem.addData((base, 24.7, 59.4), (base, 25.0, 59.3),
      (base, -122.7, 45.4), (base, 0.0, 0.0))
    q.processAllAvailable()
    mem.addData((new java.sql.Timestamp(base.getTime + 3600000L), 24.7, 59.4))
    q.processAllAvailable()
    val rows = spark.sql("SELECT poly_id, n FROM zonal").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    q.stop()
    assert(rows.count(_._1 == "estonia") == 2) // two windows
    assert(rows.filter(_._1 == "estonia").map(_._2).sorted.toSeq == Seq(1L, 2L))
    assert(rows.filter(_._1 == "oregon").map(_._2).toSeq == Seq(1L))
    assert(!rows.exists(r => r._1 != "estonia" && r._1 != "oregon"))
    spark.catalog.clearCache()
  }

  test("streaming stateful exact dedup: first-seen wins across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val out = StreamingOps.dedupExactStream(stream, "doc_id", "text")
    val q = out.toDF().writeStream.format("memory").queryName("dedup")
      .outputMode("update").start()
    // batch 1: d2 and d5 share content; min id (d2) must win
    mem.addData(("d5", "same text"), ("d2", "same text"), ("d1", "unique a"))
    q.processAllAvailable()
    // batch 2: a LATER batch re-sends the same content + a new doc
    mem.addData(("d0", "same text"), ("d9", "unique b"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM dedup").collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Boolean]("keep"),
        r.getAs[String]("dup_of"))).toSet
    q.stop()
    assert(rows.contains(("d2", true, "")))      // first claimant kept
    assert(rows.contains(("d5", false, "d2")))   // same-batch duplicate
    assert(rows.contains(("d0", false, "d2")))   // cross-batch duplicate
    assert(rows.contains(("d1", true, "")))
    assert(rows.contains(("d9", true, "")))
  }

  test("stateless pipeline stages (sampleMix + redactPii) run unchanged on a stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the mixture draw and the PII scrub are narrow projections with no
    // state — the SAME operator code must work under readStream without
    // modification, and select the IDENTICAL sample (the md5 draw is
    // deterministic, unlike rand()-sampling which would diverge per
    // micro-batch)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "text", "source")
    val out = TextOps.redactPii(
      TextOps.sampleMix(stream, Map("a" -> 1.0, "b" -> 0.4)))
    val q = out.writeStream.format("memory").queryName("mixstream")
      .outputMode("append").start()
    val data = (0L until 200L).map(i =>
      (i, s"w$i mail u$i@x.io", if (i % 2 == 0) "a" else "b"))
    // two batches — the second must keep drawing the same per-doc buckets
    mem.addData(data.take(120): _*)
    q.processAllAvailable()
    mem.addData(data.drop(120): _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT doc_id, text, n_emails FROM mixstream")
      .as[(Long, String, Long)].collect().toSet
    q.stop()
    val batch = TextOps.redactPii(
      TextOps.sampleMix(data.toDF("doc_id", "text", "source"),
        Map("a" -> 1.0, "b" -> 0.4)))
      .select("doc_id", "text", "n_emails")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.forall(_._2.endsWith("<EMAIL>")))
  }

  test("dedupIncremental per micro-batch via foreachBatch == batch run") {
    import spark.implicits._
    // the production streaming-ingest shape: each arriving micro-batch
    // is deduped against the STATIC lake fingerprint snapshot inside
    // foreachBatch (the verdict join uses a per-batch window, so it
    // runs as a batch job per trigger, not as a stateful stream)
    def run30(tag: String) = (1 to 30).map(j => s"$tag$j").mkString(" ")
    val corpus = Seq("c1" -> run30("a"), "c2" -> run30("b"))
      .toDF("doc_id", "text")
    val prints = TextOps.corpusFingerprints(corpus).cache()
    prints.count()
    val data = Seq("n1" -> run30("b"), "n2" -> run30("x"),
      "n3" -> run30("a"), "n4" -> run30("y"))
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Option[String])]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextOps.dedupIncremental(batch, prints)
          .select("doc_id", "verdict", "match_id")
          .as[(String, String, Option[String])].collect().foreach(acc.add)
        ()
      }.start()
    mem.addData(data.take(2): _*)
    q.processAllAvailable()
    mem.addData(data.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = acc.asScala.toSet
    val batchRun = TextOps.dedupIncremental(
        data.toDF("doc_id", "text"), prints)
      .select("doc_id", "verdict", "match_id")
      .as[(String, String, Option[String])].collect().toSet
    assert(streamed == batchRun && streamed.nonEmpty)
    assert(streamed.contains(("n1", "exact", Some("c2"))))
    assert(streamed.contains(("n2", "new", None)))
    spark.catalog.clearCache()
  }

  test("Q2DI round trip over res-3 cells") {
    import spark.implicits._
    import graft.spark.Q2diFunctions
    var all: Seq[Long] = (0 to 11).map(b => graft.dggs.Z7.pack(b, Seq.empty))
    for (_ <- 1 to 3) all = all.flatMap(graft.dggs.Z7.children)
    val df = all.toDF("cell_id")
      .withColumn("q2di", Q2diFunctions.z7ToQ2di(col("cell_id")))
      .withColumn("back", Q2diFunctions.q2diToZ7(col("q2di.q"), col("q2di.i"),
        col("q2di.j"), lit(3)))
    assert(df.where(col("back") =!= col("cell_id")).count() == 0)
  }
}

/** Z7-prefix clustered storage: pruning + completeness. */
class CorpusStoreSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false").appName("graft-store-test").getOrCreate()

  test("range read equals full-scan filter; scan prunes row groups") {
    import spark.implicits._
    val geo = CorpusOps.geoSpans(
      CorpusOps.interleavedDocs((0L until 20000L).toDF("doc_id")))
    val cells = GridOps.cellsForGeoPoints(geo, "lon", "lat", 6)
      .select("doc_id", "offset", "cell_id")
    val dir = java.nio.file.Files.createTempDirectory("clustered").toString
    CorpusStore.writeClustered(cells, "cell_id", dir, 16)
    val parent = graft.dggs.Z7.fromCellString("023") // res-1 region
    val pruned = CorpusStore.readCellRange(spark, dir, "cell_id", parent)
    val full = spark.read.parquet(dir)
    val expected = full.where(
      graft.spark.DggsFunctions.z7AncestorAt(col("cell_id"), lit(1)) === parent)
    assert(pruned.count() == expected.count())
    assert(pruned.except(expected).count() == 0)
    // the range predicate reaches the parquet scan (pushed filters)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(cell_id"), plan.take(500))
    // file-level pruning: the range touches a strict subset of the files
    val allFiles = full.inputFiles.length
    val touched = pruned
      .select(input_file_name()).distinct().count()
    assert(touched < allFiles, s"touched $touched of $allFiles files (no pruning?)")
  }

  test("T4/D4 clustered range reads equal ancestor filters and prune files") {
    import spark.implicits._
    val geo = CorpusOps.geoSpans(
      CorpusOps.interleavedDocs((0L until 20000L).toDF("doc_id")))
    // D4 path (T4.rangeAt is covered by Isea4TSpec; exercise the store
    // end-to-end with the diamond kernel)
    val cells = GridOps.cellsForGeoPoints(geo, "lon", "lat", 6, Grids.isea4d)
      .select("doc_id", "offset", "cell_id")
    val dir = java.nio.file.Files.createTempDirectory("clustered4d").toString
    CorpusStore.writeClustered(cells, "cell_id", dir, 16)
    val parent = graft.dggs.D4.fromD4String("0312") // res-2 region
    val pruned = CorpusStore.readD4Range(spark, dir, "cell_id", parent, 6)
    val full = spark.read.parquet(dir)
    val expected = full.where(
      F.ancestorAt(col("cell_id"), lit(2), Grids.isea4d) === parent)
    assert(pruned.count() == expected.count() && pruned.count() > 0)
    assert(pruned.except(expected).count() == 0)
    val touched = pruned.select(input_file_name()).distinct().count()
    assert(touched < full.inputFiles.length)
  }
}
