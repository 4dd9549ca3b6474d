package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{MediaOps, TextOps, VectorOps}

/** Dedup/ANN scale soak (round-2 verdict #2): the flagship got a 40M-point
  * soak + N-vs-4N scaling evidence in round 2; this applies the same
  * protocol to the LLM-pipeline operators whose 100 TB claims were argued
  * from plan shape only. Same deterministic input, two+ parallelism
  * levels, rows/sec + shuffle bytes per operator.
  *
  *   sbt "runMain graft.BenchDedupScaling <cpus> [nDocs] [nVecs]"
  *
  * Results land in BENCH/BASELINE.md ("dedup/ANN scaling").
  */
object BenchDedupScaling {

  /** Deterministic near-duplicate corpus, generated distributed (no
    * driver data): families of 4 docs × 30 words; each family member
    * mutates one family-specific word position, giving intra-family
    * 3-shingle Jaccard ≈ 0.8 (above the 0.5 LSH threshold). Positions
    * 5-7 draw from a 3-value shared vocab, so their shingle is hot
    * (df = n/3) and exercises the DF-cap anti-join at scale; all other
    * words are family-unique.
    */
  def nearDupCorpus(spark: SparkSession, n: Long): DataFrame = {
    val fam = (col("id") / 4).cast("long") // integral family index
    val variant = pmod(col("id"), lit(4))
    val words = (1 to 30).map { i =>
      val base =
        if (i >= 5 && i <= 7) concat(lit(s"s${i}_"), pmod(fam, lit(3)))
        else concat(lit("w"), fam * 30 + lit(i))
      when(pmod(variant * 7, lit(30)) + 1 === i,
        concat(lit("v"), variant)).otherwise(base)
    }
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words: _*).as("text"))
  }

  /** Deterministic line-structured corpus for the boilerplate-removal
    * leg: 7 doc-unique body lines + a universal footer (df = n) + a
    * mid-df section line (df ≈ n/1000) + a near-unique line (df = 2,
    * below any realistic threshold — must survive).
    */
  def linesCorpus(spark: SparkSession, n: Long): DataFrame = {
    val uniq = (1 to 7).map(i =>
      concat(lit(s"u${i}_"), col("id"), lit(s" body line $i")))
    val boiler = Seq(
      lit("subscribe to our newsletter"),
      concat(lit("sect "), pmod(col("id"), lit(1000L))),
      concat(lit("rare "), (col("id") / 2).cast("long")))
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws("\n", uniq ++ boiler: _*).as("text"))
  }

  /** Deterministic synthetic embeddings (uniform in [-1,1)^dim).
    * Dims are xxhash64-mixed per (id, dim) — a linear congruential
    * pattern makes consecutive ids near-identical vectors, which
    * collapses LSH buckets into skewed contiguous runs and measures
    * nothing but a straggler.
    */
  def syntheticEmbeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        i => ((pmod(xxhash64(col("id"), i), lit(2000)) - 1000)
          .cast("double") / 1000.0).cast("float")).as("embedding"))

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "8"
    val nDocs = if (args.length > 1) args(1).toLong else 40000L
    val nVecs = if (args.length > 2) args(2).toLong else 50000L
    // optional comma-separated op filter (args 4): big-input soaks of ONE
    // op (e.g. the 1M-doc CC-only leg) shouldn't pay for the whole suite
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // shuffle-byte tally across the timed window (the "per-stage
    // shuffle bytes" evidence BASELINE.md's protocol asks for, summed
    // per op)
    val tally = new graft.obs.QueryMetrics
    spark.sparkContext.addSparkListener(tally)

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Long, Long, Long)]()
    def run(name: String, warm: => Long)(op: => Long): Unit = {
      if (only.nonEmpty && !only.contains(name)) return
      warm // JIT/codegen warmup on a small slice, untimed
      spark.catalog.clearCache()
      // wait for stragglers so the tally window is clean
      Thread.sleep(200)
      val r0 = tally.read.get(); val w0 = tally.write.get()
      val t0 = System.nanoTime()
      val n = op
      val wall = (System.nanoTime() - t0) / 1e9
      tally.awaitStable()
      results(name) = (wall, n, tally.read.get() - r0, tally.write.get() - w0)
      spark.catalog.clearCache()
    }

    val docs = nearDupCorpus(spark, nDocs)
    val docsWarm = nearDupCorpus(spark, 2000)
    val embs = syntheticEmbeddings(spark, nVecs)
    val embsWarm = syntheticEmbeddings(spark, 2000)

    run("dedup_minhash_lsh",
      TextOps.minhashLshPairs(docsWarm, 3, 8, 2, 0.5).count()) {
      TextOps.minhashLshPairs(docs, 3, 8, 2, 0.5).count()
    }
    // clusters = pairs pipeline + iterative CC rounds (wall includes both)
    run("dedup_clusters",
      TextOps.nearDupClusters(
        TextOps.minhashLshPairs(docsWarm, 3, 8, 2, 0.5)).count()) {
      TextOps.nearDupClusters(
        TextOps.minhashLshPairs(docs, 3, 8, 2, 0.5)).count()
    }
    // CC-only leg (round-3 verdict #5): dedup_clusters' wall is ~90% its
    // pair pipeline, leaving the connected-components iteration's own
    // scaling inferred. Persist the pairs ONCE (untimed) and time
    // nearDupClusters alone over the parquet edges — the shape a real
    // pipeline uses when pairs are already on the lake.
    if (only.isEmpty || only.exists(_.startsWith("dedup_cc")) ||
      only.contains("pipeline_clean_from_pairs")) {
      val pairsDir = java.nio.file.Files.createTempDirectory("graft_cc_pairs")
      try {
        TextOps.minhashLshPairs(docs, 3, 8, 2, 0.5)
          .write.mode("overwrite").parquet(pairsDir.toString)
        spark.catalog.clearCache()
        val pairsPq = spark.read.parquet(pairsDir.toString)
        val nEdges = pairsPq.count()
        var rounds = -1
        run("dedup_cc_only",
          TextOps.nearDupClusters(
            TextOps.minhashLshPairs(docsWarm, 3, 8, 2, 0.5)).count()) {
          val (labels, r) = TextOps.nearDupClustersStaged(pairsPq)
          rounds = r
          labels.count()
        }
        if (rounds >= 0)
          println(s"dedup_cc_only: $nEdges input pairs, " +
            s"$rounds rounds to confirm convergence")
        // the large-star/small-star alternative over the SAME pairs —
        // its O(log n)-round guarantee is the adversarial-shape scale
        // path; here (clique-shaped corpus) it measures the per-round
        // overhead premium vs min-label
        var lsRounds = -1
        run("dedup_cc_ls_only",
          TextOps.nearDupClustersLargeStar(
            TextOps.minhashLshPairs(docsWarm, 3, 8, 2, 0.5)).count()) {
          val (labels, r) = TextOps.nearDupClustersLargeStarStaged(pairsPq)
          lsRounds = r
          labels.count()
        }
        if (lsRounds >= 0)
          println(s"dedup_cc_ls_only: $nEdges input pairs, " +
            s"$lsRounds rounds to confirm fixpoint")
        // clean-corpus with the pairs ALREADY on the lake (round-5
        // verdict #4): quality filter + exact dedup + CC tail, no pair
        // regeneration — the wall should approach dedup_cc_only plus
        // the two cheap corpus stages, evidencing that the composition
        // premium in dedup_clusters/pipeline_clean_corpus was ~all
        // pair recompute
        run("pipeline_clean_from_pairs",
          TextOps.cleanCorpus(docsWarm,
            pairSource = TextOps.precomputedPairSource(
              TextOps.minhashLshPairs(docsWarm, 3, 8, 2, 0.5))).count()) {
          TextOps.cleanCorpus(docs,
            pairSource = TextOps.precomputedPairSource(pairsPq)).count()
        }
      } finally graft.tools.Fs.deleteRecursively(pairsDir)
    }
    run("dedup_simhash_pairs",
      TextOps.simhashPairs(docsWarm).count()) {
      TextOps.simhashPairs(docs).count()
    }
    // decontamination at scale (round-5 verdict #6): ~1% of the corpus
    // doubles as the benchmark (1M docs → ~10k bench docs, the eval ≪
    // train shape) at the customary k=13; contaminated docs = the bench
    // docs themselves + their near-dup family members (a 1-word mutation
    // leaves ~5 clean 13-windows in a 30-word doc). The bench-shingle
    // broadcast is ~(nBench × 18 windows × ~100 B) ≈ 20 MB per 1M-doc
    // corpus — far under the 8 GB broadcast ceiling; the shuffle tally
    // shows the corpus side never shuffles for the join
    run("pipeline_decontaminate",
      TextOps.decontaminate(docsWarm,
        docsWarm.where(col("doc_id") % 101 === 0), k = 13).count()) {
      TextOps.decontaminate(docs,
        docs.where(col("doc_id") % 101 === 0), k = 13).count()
    }
    // exact-substring dedup at scale (round 6): family members of the
    // near-dup corpus share ≥10-word verbatim segments between their
    // single-word mutations, so the anchor→diagonal-run pipeline has
    // real repeated passages to find at every scale; k=5 keeps no
    // shingle hot (the 3-value shared vocab spans only positions 5-7,
    // shorter than a 5-shingle)
    run("dedup_substring",
      TextOps.repeatedSpans(docsWarm, 5, 10).count()) {
      TextOps.repeatedSpans(docs, 5, 10).count()
    }
    // count() alone is VACUOUS here: a left join against a per-doc
    // aggregate (unique keys) with no right-side column referenced is
    // eliminated by the optimizer, so the whole strip pipeline would be
    // pruned away (measured: 0.5 s / 0 shuffle). Summing the rebuilt
    // text length + removed-word count forces the real computation.
    def forceStrip(df: DataFrame): Long =
      df.agg(sum(length(col("text"))) + sum(col("n_words_removed")))
        .first().getLong(0)
    run("dedup_substring_strip",
      forceStrip(TextOps.stripRepeatedSpans(docsWarm, 5, 10))) {
      forceStrip(TextOps.stripRepeatedSpans(docs, 5, 10))
    }
    // the lake-resident strip path (round 6): span table persisted ONCE
    // (untimed), then stripRepeatedSpansFromSpans over the parquet spans
    // — the strip wall should collapse to ~the applyWordStrips tail,
    // evidencing that dedup_substring_strip's wall is ~all run-table
    // recompute (the precomputed-pairs economics, substring edition)
    if (only.isEmpty || only.contains("dedup_substring_strip_spans")) {
      val spansDir = java.nio.file.Files.createTempDirectory("graft_spans")
      try {
        TextOps.repeatedSpans(docs, 5, 10)
          .write.mode("overwrite").parquet(spansDir.toString)
        spark.catalog.clearCache()
        val spansPq = spark.read.parquet(spansDir.toString)
        run("dedup_substring_strip_spans",
          forceStrip(TextOps.stripRepeatedSpansFromSpans(docsWarm,
            TextOps.repeatedSpans(docsWarm, 5, 10)))) {
          forceStrip(TextOps.stripRepeatedSpansFromSpans(docs, spansPq))
        }
      } finally graft.tools.Fs.deleteRecursively(spansDir)
    }
    // deterministic mixture sampling (round 6): 20 synthetic sources,
    // half sampled at varied rates — a pure narrow projection + filter,
    // so the leg's evidence IS the ~zero shuffle-byte tally (the op's
    // 100 TB story: no exchange at any scale) plus linear-in-N wall
    val mixRates = (0 until 10).map(i => s"src${2 * i}" -> (0.1 * (i % 5) + 0.1)).toMap
    def withSource(df: DataFrame): DataFrame =
      df.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
    run("pipeline_sample_mix",
      TextOps.sampleMix(withSource(docsWarm), mixRates).count()) {
      TextOps.sampleMix(withSource(docs), mixRates).count()
    }
    // line-level boilerplate removal (round 6): 10-line docs, 2 of the
    // 10 lines are corpus boilerplate (universal footer + mid-df
    // section line) and must drop; the action sums rebuilt-text bytes
    // so the narrow higher-order rebuild cannot be pruned away. The op
    // scans its input 3× (df / positions / rebuild), so the leg feeds
    // PARQUET — the lake shape — not the generator plan
    if (only.isEmpty || only.contains("pipeline_dedup_lines")) {
      def dedupLinesTotal(src: DataFrame): Long =
        TextOps.dedupLines(src, minDf = 100)
          .agg(sum(length(col("text"))).as("b"),
            sum(col("n_lines_removed")).as("d")).head().getLong(1)
      val linesDir = java.nio.file.Files.createTempDirectory("graft_lines")
      try {
        linesCorpus(spark, nDocs).write.mode("overwrite")
          .parquet(linesDir.toString)
        val pq = spark.read.parquet(linesDir.toString)
        run("pipeline_dedup_lines", dedupLinesTotal(linesCorpus(spark, 2000))) {
          dedupLinesTotal(pq)
        }
      } finally graft.tools.Fs.deleteRecursively(linesDir)
    }
    // GPT-style sequence packing (round 6): 1024-token sequences over
    // 1024 independent bucket streams (≫ cores — the per-bucket prefix
    // sum is the operator's semantics; buckets are the parallelism
    // unit). ONE shuffle: the per-bucket window
    run("pipeline_pack_sequences",
      TextOps.packSequences(docsWarm, 1024, 64).count()) {
      TextOps.packSequences(docs, 1024, 1024).count()
    }
    // per-key cap under adversarial skew: 70% of all rows share ONE key
    // (the shape the cap exists for — a naive per-key window would push
    // 0.7·n rows through one task); cap 100 per key via the salted
    // two-stage top-k. Wall scaling with cores IS the evidence the hot
    // key's rows really split across subgroup tasks
    val capKey = when(pmod(col("doc_id"), lit(10)) < 7, lit("hot"))
      .otherwise(concat(lit("k"), pmod(col("doc_id"), lit(10000))))
    run("pipeline_cap_per_key",
      TextOps.sampleCapPerKey(docsWarm, capKey, col("doc_id"), 100).count()) {
      TextOps.sampleCapPerKey(docs, capKey, col("doc_id"), 100).count()
    }
    // exact top-fraction selection (round 6), measured over a PARQUET
    // corpus (persisted once, untimed): selection is scan-bound, and a
    // generated relation recomputes the whole corpus per pass — the
    // production input is a lake table whose narrow re-scan reads two
    // columns. Three forms over the SAME files:
    //  - pipeline_select_top: exact ranks via range-repartition +
    //    prefix offsets (one full-row exchange, no single-partition
    //    stage)
    //  - pipeline_select_top_filter: the kept SET via the exact k-th
    //    cutoff — only the narrow (doc_id, score) projection is ever
    //    shuffled; full rows never leave their partitions
    //  - pipeline_select_top_naive (opt-in): the single-partition
    //    global window, full rows through one task — the antipattern
    //    the two operators replace; its serial term is the flat floor
    if (only.isEmpty || only.exists(_.startsWith("pipeline_select_top"))) {
      val topScore = size(array_distinct(split(col("text"), " "))).cast("long")
      // the measured action must CONSUME text: a bare count() lets
      // column pruning strip the text column before every exchange,
      // so all three forms would shuffle identical narrow rows and the
      // comparison would measure nothing (observed: "naive" at 4 MB
      // shuffle). Summing text lengths over the kept set forces each
      // path to carry full rows exactly where its plan says it does
      def consume(d: DataFrame): Long = {
        val r = d.agg(count(lit(1)), sum(length(col("text")))).collect()(0)
        r.getLong(0) // out_rows stays a row count; the sum forces text
      }
      val docsDir = java.nio.file.Files.createTempDirectory("graft_seltop")
      try {
        docs.write.mode("overwrite").parquet(docsDir.toString)
        spark.catalog.clearCache()
        val pq = spark.read.parquet(docsDir.toString)
        run("pipeline_select_top",
          consume(TextOps.selectTopFraction(docsWarm, topScore, 0.25))) {
          consume(TextOps.selectTopFraction(pq, topScore, 0.25))
        }
        run("pipeline_select_top_filter",
          consume(TextOps.selectTopFractionFilter(docsWarm, topScore, 0.25))) {
          consume(TextOps.selectTopFractionFilter(pq, topScore, 0.25))
        }
        if (only.contains("pipeline_select_top_naive")) {
          import org.apache.spark.sql.expressions.Window
          // same contract as the operators (full rows ranked, text
          // included in the exchange) — the global window forces every
          // full row through the single ordering task
          def naive(d: DataFrame): Long = {
            val scored = d.withColumn("score", topScore)
            val n = scored.count()
            val k = math.ceil(0.25 * n).toLong
            consume(scored.withColumn("global_rank", row_number()
                .over(Window.orderBy(col("score").desc, col("doc_id").asc))
                .cast("long"))
              .where(col("global_rank") <= k))
          }
          run("pipeline_select_top_naive", naive(docsWarm)) { naive(pq) }
        }
      } finally graft.tools.Fs.deleteRecursively(docsDir)
    }
    // incremental (batch-vs-corpus) dedup: the daily-delta modality —
    // the corpus contributes ONLY its fingerprint snapshot (built and
    // spooled to parquet once, untimed: in production it is maintained
    // append-only across ingests), the timed job dedups an n/10-doc
    // batch (half planted exact dups of corpus docs, half novel
    // families) against it. Scale evidence: the snapshot side streams
    // through broadcast probes — shuffle bytes must stay ~batch-sized,
    // NOT corpus-sized — and the wall tracks the snapshot SCAN, the
    // only corpus-proportional term
    if (only.isEmpty || only.exists(_.startsWith("incr_"))) {
      val printsDir = java.nio.file.Files.createTempDirectory("graft_prints")
      try {
        def consumeFp(d: DataFrame): Long =
          d.agg(count(lit(1)), sum(length(col("exact_md5"))),
            sum(size(col("sig")))).collect()(0).getLong(0)
        run("incr_fingerprints",
          consumeFp(TextOps.corpusFingerprints(docsWarm))) {
          consumeFp(TextOps.corpusFingerprints(docs))
        }
        TextOps.corpusFingerprints(docs)
          .write.mode("overwrite").parquet(printsDir.toString)
        spark.catalog.clearCache()
        val printsPq = spark.read.parquet(printsDir.toString)
        // exact-dup half: corpus docs relabeled past the id space (text
        // is already bound to the ORIGINAL id, so it stays a verbatim
        // copy); novel half: families that start beyond the corpus
        val newBatch = nearDupCorpus(spark, nDocs + nDocs / 20)
          .where((col("doc_id") < nDocs / 10 && col("doc_id") % 2 === 0) ||
            col("doc_id") >= nDocs)
          .withColumn("doc_id", col("doc_id") + 10L * nDocs)
        val newWarm = nearDupCorpus(spark, 1000)
          .withColumn("doc_id", col("doc_id") + 10L * nDocs)
        def consumeVd(d: DataFrame): Long =
          d.agg(count(lit(1)), sum(length(col("verdict"))),
            sum(col("est_jaccard"))).collect()(0).getLong(0)
        run("incr_dedup",
          consumeVd(TextOps.dedupIncremental(newWarm,
            TextOps.corpusFingerprints(docsWarm)))) {
          consumeVd(TextOps.dedupIncremental(newBatch, printsPq))
        }
      } finally graft.tools.Fs.deleteRecursively(printsDir)
    }
    // THE end-to-end training-data pipeline (round 6): every stage the
    // engine provides, composed in ONE job over the 1M-doc corpus —
    // deterministic 50% mixture → PII scrub → quality filter + exact
    // dedup + near-dup CC keep-one → benchmark decontamination → packed
    // 1024-token sequences. The measurement a "would this pipeline run
    // at 100 TB" claim actually needs: the stages' shuffles compose
    // without re-reading the corpus per stage (one lineage), and the
    // wall is ~the dedup pair pipeline plus cheap narrow stages
    run("pipeline_end_to_end", {
      val w = withSource(docsWarm)
      val bench = docsWarm.select(col("doc_id"), col("text"))
        .where(col("doc_id") % 101 === 0)
      val mixed = TextOps.redactPii(
        TextOps.sampleMix(w, (0 until 20).map(i => s"src$i" -> 0.5).toMap))
      val clean = TextOps.cleanCorpus(mixed, 10, 5)
      val deconned = TextOps.decontaminate(
        mixed.join(clean, "doc_id"), bench, k = 13)
      TextOps.packSequences(deconned, 1024, 64).count()
    }) {
      val w = withSource(docs)
      val bench = docs.select(col("doc_id"), col("text"))
        .where(col("doc_id") % 101 === 0)
      // the mixture+scrub stage output is CACHED — the production shape
      // (stage outputs persist to the lake between stages); without it,
      // every downstream consumer of `mixed` (the pair pipeline's
      // branches, the decontamination join) re-pays the regex scrub
      // (measured 24.7 s -> with cache the wall is the dedup pair
      // pipeline + cheap narrow stages, as the plan story claims)
      val mixed = TextOps.redactPii(
        TextOps.sampleMix(w, (0 until 20).map(i => s"src$i" -> 0.5).toMap)).cache()
      val clean = TextOps.cleanCorpus(mixed, 10, 5)
      val deconned = TextOps.decontaminate(
        mixed.join(clean, "doc_id"), bench, k = 13)
      TextOps.packSequences(deconned, 1024, 1024).count()
    }
    // scale-appropriate index sizes: nCentroids ~ sqrt(N) for IVF with
    // TRAINED k-means centroids (the production path — balanced buckets;
    // training time on the bounded driver sample is measured inside the
    // op wall), 2^11 LSH buckets — the sf0.1 driver queries keep the
    // small oracle-checkable defaults; this is the corpus-scale shape
    run("emb_ivf_topk",
      VectorOps.ivfTopK(embsWarm, 3, 64, 2).count()) {
      val trained = VectorOps.trainCentroids(embs, nCentroids = 256, iters = 5)
      VectorOps.ivfTopK(embs, 3, 256, 2, Some(trained)).count()
    }
    run("emb_lsh_topk",
      VectorOps.lshTopK(embsWarm, 3, 11).count()) {
      VectorOps.lshTopK(embs, 3, 11).count()
    }
    // SemDeDup semantic pairs (round 6): deterministic 256-vector
    // codebook (lowest ids — the training cost is emb_kmeans_dist's
    // leg, not this one), assignment = |codebook| dots/row, then the
    // per-cluster pairwise refine; on uniform random vectors the refine
    // dominates (~n²/|codebook| dots) and pair output is ~0 — the leg
    // measures the candidate-generation economics, not recall
    if (only.isEmpty || only.contains("emb_semantic_pairs")) {
      def codebook(src: DataFrame, k: Int): Array[Array[Double]] =
        src.orderBy("vec_id").limit(k).select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      // codebook built OUTSIDE the timed window — training/selection cost
      // is emb_kmeans_dist's leg, this one measures assignment + refine
      val cbWarm = codebook(embsWarm, 16)
      val cb = codebook(embs, 256)
      run("emb_semantic_pairs",
        VectorOps.semanticNearDupPairs(embsWarm, cbWarm, 0.95).count()) {
        VectorOps.semanticNearDupPairs(embs, cb, 0.95).count()
      }
    }
    // PQ compressed-embedding ANN (round-6 verdict #3): codebook trained
    // untimed on the bounded driver sample (a deployment artifact —
    // trained once, shipped with the index); the ENCODE leg is the one
    // full-corpus narrow pass building the 8 B/row code relation (64×
    // smaller than the float64 vectors an uncompressed index scans),
    // the SEARCH leg is the broadcast-query ADC scan over codes + the
    // bounded exact re-rank fetch
    if (only.isEmpty || only.exists(x =>
      x.startsWith("emb_pq") || x.startsWith("emb_ivfpq"))) {
      val pqCb = VectorOps.pqCodebookFromMicro(
        VectorOps.trainPqCodebookMicro(embs))
      run("emb_pq_encode",
        VectorOps.pqEncode(embsWarm, pqCb).count()) {
        VectorOps.pqEncode(embs, pqCb).count()
      }
      // ~64 queries regardless of corpus size (the bounded-Q contract)
      val qStep = math.max(1L, nVecs / 64)
      run("emb_pq_topk",
        VectorOps.pqTopK(embsWarm, pqCb, col("vec_id") % 125 === 0, 3).count()) {
        VectorOps.pqTopK(embs, pqCb, pmod(col("vec_id"), lit(qStep)) === 0, 3)
          .count()
      }
      // IVF-PQ search over a PREBUILT index (the lake shape: index built
      // once per corpus, persisted, probe filters prune buckets) — the
      // timed leg is search-only, directly comparable to emb_pq_topk's
      // full-codes scan: 8 of 64 buckets probed = 1/8 of the codes
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfpq")
      try if (only.isEmpty || only.contains("emb_ivfpq_topk")) {
        VectorOps.buildIvfPqIndex(embs, pqCb, nCoarse = 64)
          .write.mode("overwrite").parquet(idxDir.toString)
        spark.catalog.clearCache()
        val idx = spark.read.parquet(idxDir.toString)
        run("emb_ivfpq_topk",
          VectorOps.ivfPqTopK(embsWarm, pqCb, col("vec_id") % 125 === 0, 3,
            nCoarse = 8, nProbe = 2).count()) {
          VectorOps.ivfPqTopK(embs, pqCb, pmod(col("vec_id"), lit(qStep)) === 0,
            3, nCoarse = 64, nProbe = 8, index = Some(idx)).count()
        }
      } finally graft.tools.Fs.deleteRecursively(idxDir)
      // residual IVF-PQ (round-8): per-bucket books trained untimed on
      // the bounded driver sample (a deployment artifact, like the flat
      // codebook), index prebuilt untimed — the timed leg is the routed
      // residual-ADC search, directly comparable to emb_ivfpq_topk
      val residIdxDir = java.nio.file.Files.createTempDirectory("graft_ivfpqr")
      try if (only.isEmpty || only.contains("emb_ivfpq_residual_topk")) {
        val books = VectorOps.residualBooksFromMicro(
          VectorOps.trainResidualPqBooksMicro(embs, nCoarse = 64))
        VectorOps.buildIvfPqResidualIndex(embs, books, nCoarse = 64)
          .write.mode("overwrite").parquet(residIdxDir.toString)
        spark.catalog.clearCache()
        val idx = spark.read.parquet(residIdxDir.toString)
        val warmBooks = VectorOps.residualBooksFromMicro(
          VectorOps.trainResidualPqBooksMicro(embsWarm, nCoarse = 8))
        run("emb_ivfpq_residual_topk",
          VectorOps.ivfPqResidualTopK(embsWarm, warmBooks,
            col("vec_id") % 125 === 0, 3, nCoarse = 8, nProbe = 2).count()) {
          VectorOps.ivfPqResidualTopK(embs, books,
            pmod(col("vec_id"), lit(qStep)) === 0,
            3, nCoarse = 64, nProbe = 8, index = Some(idx)).count()
        }
      } finally graft.tools.Fs.deleteRecursively(residIdxDir)
    }
    // DISTRIBUTED k-means training at codebook sizes past the driver
    // sample (round-4 verdict #2): √N centroids rounded up to a power of
    // two (1M vectors → 1024), trained over the full relation — the
    // production IVF codebook shape
    run("emb_kmeans_dist",
      { VectorOps.trainCentroidsDistributed(embsWarm, 64, iters = 2); 2000L }) {
      val k = math.max(64, Integer.highestOneBit(math.sqrt(nVecs.toDouble).toInt - 1) * 2)
      VectorOps.trainCentroidsDistributed(embs, k, iters = 5).length.toLong
    }

    // KMV sketch vs exact count(distinct) — the shuffle-volume claim
    // measured: high-cardinality per-group distinct (nVecs rows, 64
    // groups, values ~unique). count(distinct) rewrites to an expand
    // that exchanges every distinct key; the sketch exchanges ≤ k·8 B
    // of state per (partition, group). Walls AND the tally's shuffle
    // bytes are the evidence.
    if (only.isEmpty || only.exists(_.startsWith("agg_distinct"))) {
      import graft.spark.SketchFunctions
      def card(n: Long) = spark.range(n).select(
        pmod(col("id"), lit(64)).as("g"),
        concat(lit("u"), (col("id") / 3).cast("long")).as("v"))
      // the filter on the aggregate VALUE keeps column pruning from
      // dropping the aggregate under the count (measured: a bare
      // .count() reduced both legs to counting 64 group keys)
      def evalDistinct(src: DataFrame): Long =
        src.groupBy("g").agg(countDistinct(col("v")).as("d"))
          .where(col("d") >= 0).count()
      def evalKmv(src: DataFrame): Long =
        src.groupBy("g").agg(SketchFunctions.kmvDistinct(col("v"), 256).as("d"))
          .where(col("d") >= 0).count()
      run("agg_distinct_exact", evalDistinct(card(20000))) {
        evalDistinct(card(nVecs * 4))
      }
      run("agg_distinct_kmv", evalKmv(card(20000))) {
        evalKmv(card(nVecs * 4))
      }
    }

    // media-modality near-dup at corpus scale: REAL codec decode
    // (RIFF/PCM16, concatenated-PNM frames) + 64-bit signature + the
    // shared banding engine, end-to-end. The decode+hash pass is
    // narrow (zero shuffle); the shuffle cost is the banding join —
    // with 16-bit band keys the candidate set grows ~n²/65536 per
    // band, so these legs measure the refine's rejection throughput
    // honestly (cross-family candidates outnumber true pairs once
    // n ≫ 65536; the DF cap guards hot keys)
    {
      val clips = spark.range(nDocs).select(col("id").as("doc_id"))
      val clipsWarm = spark.range(2000).select(col("id").as("doc_id"))
      def consumePairs(d: DataFrame): Long =
        d.agg(count(lit(1)), sum(col("hamming"))).collect()(0).getLong(0)
      // hash-only legs isolate the narrow codec+signature pass (zero
      // shuffle) from the banding join the *_pairs legs add on top
      def consumeHash(d: DataFrame, c: String): Long =
        d.agg(count(lit(1)), sum(length(col(c)))).collect()(0).getLong(0)
      run("media_audio_hash",
        consumeHash(MediaOps.audioHash(
          MediaOps.syntheticWavCorpus(clipsWarm)), "audio64")) {
        consumeHash(MediaOps.audioHash(
          MediaOps.syntheticWavCorpus(clips)), "audio64")
      }
      run("media_video_hash",
        consumeHash(MediaOps.videoHash(
          MediaOps.syntheticPnmVideoCorpus(clipsWarm)), "vhash64")) {
        consumeHash(MediaOps.videoHash(
          MediaOps.syntheticPnmVideoCorpus(clips)), "vhash64")
      }
      run("media_audio_pairs",
        consumePairs(MediaOps.audioHashPairs(
          MediaOps.syntheticWavCorpus(clipsWarm)))) {
        consumePairs(MediaOps.audioHashPairs(
          MediaOps.syntheticWavCorpus(clips)))
      }
      run("media_video_pairs",
        consumePairs(MediaOps.videoHashPairs(
          MediaOps.syntheticPnmVideoCorpus(clipsWarm)))) {
        consumePairs(MediaOps.videoHashPairs(
          MediaOps.syntheticPnmVideoCorpus(clips)))
      }
    }

    // a typo'd op filter must not record a vacuous empty run as a pass
    require(only.isEmpty || results.nonEmpty,
      s"op filter matched no benchmark: ${only.mkString(",")}")
    emitJson(results, cpus, nDocs, nVecs)
    spark.stop()
  }

  private[graft] def emitJson(
      results: scala.collection.mutable.LinkedHashMap[String, (Double, Long, Long, Long)],
      cpus: String, nDocs: Long, nVecs: Long): Unit = {
    val json = results.map { case (name, (wall, rows, sr, sw)) =>
      val inRows = if (name.startsWith("emb")) nVecs else nDocs
      f""""$name":{"wall_sec":$wall%.2f,"out_rows":$rows,"rows_per_sec":${(inRows / wall).toLong},""" +
        s""""shuffle_read_mb":${sr / 1048576},"shuffle_write_mb":${sw / 1048576}}"""
    }.mkString(
      s"""{"bench":"dedup_ann_scaling","cpus":$cpus,"docs":$nDocs,"vecs":$nVecs,""",
      ",", "}")
    println(json)
  }
}

/** Connected-components-ONLY soak over synthetic edge lists (round-4
  * verdict #1: the CC tail is the one measured scaling soft spot; its
  * 1M-pair legs were stage-floor-bound at ~15 barriers/round, since cut
  * to 1 job + 1-3 exchanges per round). Generating edges directly —
  * instead of running the minhash pipeline — lets the soak reach ≥10M
  * pairs, where per-stage work can amortize whatever barrier floor
  * remains.
  *
  *   sbt "runMain graft.BenchCC <cpus> [nEdges] [shape] [algos]"
  *
  * shape: `clique` (families of 4 docs, all 6 intra-family pairs — the
  * shape minhash dedup actually emits) or `chain` (paths of 32 nodes —
  * the adversarial diameter shape large-star/small-star exists for;
  * min-label needs diameter rounds here, so the default algos for chain
  * is `ls`). algos: comma list of `ml`,`ls`.
  *
  * Cross-check at soak scale: when both algos run, their label sets are
  * compared EXACTLY (count + both-direction except) — the same
  * must-agree contract the driver oracle enforces at sf scale.
  */
object BenchCC {

  /** families of 4 nodes with all 6 intra-family pairs, one row per edge,
    * distributed generation (no driver data)
    */
  def cliqueEdges(spark: SparkSession, nEdges: Long): DataFrame = {
    val aSel = array(Seq(0, 0, 0, 1, 1, 2).map(lit): _*)
    val bSel = array(Seq(1, 2, 3, 2, 3, 3).map(lit): _*)
    val fam = (col("id") / 6).cast("long")
    val p = (pmod(col("id"), lit(6)) + 1).cast("int")
    spark.range(nEdges).select(
      (fam * 4 + element_at(aSel, p)).as("doc_a"),
      (fam * 4 + element_at(bSel, p)).as("doc_b"))
  }

  /** paths of `len` nodes: edge j of chain c is (c*len + j, c*len + j+1) */
  def chainEdges(spark: SparkSession, nEdges: Long, len: Int = 32): DataFrame = {
    val c = (col("id") / (len - 1)).cast("long")
    val j = pmod(col("id"), lit(len - 1))
    spark.range(nEdges).select(
      (c * len + j).as("doc_a"), (c * len + j + 1).as("doc_b"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "32"
    val nEdges = if (args.length > 1) args(1).toLong else 10000000L
    val shape = if (args.length > 2) args(2) else "clique"
    val algos = (if (args.length > 3) args(3)
                 else if (shape == "chain") "ls" else "ml,ls")
      .split(",").map(_.trim).toSet
    // a typo'd algo filter must not record a vacuous empty run as a
    // pass (same guard as BenchDedupScaling's op filter) — and it would
    // also emit a trailing-comma invalid-JSON line
    require(algos.nonEmpty && algos.subsetOf(Set("ml", "ls")),
      s"unknown algo filter ${algos.mkString(",")}: expected ml,ls")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def edges(n: Long) = shape match {
      case "chain" => chainEdges(spark, n)
      case _ => cliqueEdges(spark, n)
    }
    // materialize the input untimed (a real pipeline reads pairs off the
    // lake); cache instead of parquet-spool — the soak measures CC, and
    // a columnar cache scan is the closer analogue of a lake read
    val in = edges(nEdges).cache()
    in.count()
    // warmup: JIT + codegen on a small slice, untimed
    if (algos("ml")) TextOps.nearDupClusters(edges(20000), maxIters = 40).count()
    if (algos("ls")) TextOps.nearDupClustersLargeStar(edges(20000)).count()

    var labels = Map.empty[String, DataFrame]
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def leg(name: String)(body: => (DataFrame, Int)): Unit = {
      val t0 = System.nanoTime()
      val (lbl, rounds) = body
      val n = lbl.count()
      val wall = (System.nanoTime() - t0) / 1e9
      labels += name -> lbl
      out += f""""$name":{"wall_sec":$wall%.2f,"rounds":$rounds,"label_rows":$n,""" +
        s""""edges_per_sec":${(nEdges / wall).toLong}}"""
    }
    // min-label needs component-diameter rounds: bound by the chain
    // length on chain inputs, 1-2 on cliques
    if (algos("ml")) leg("cc_min_label") {
      TextOps.nearDupClustersStaged(in, maxIters = 40)
    }
    if (algos("ls")) leg("cc_large_star") {
      TextOps.nearDupClustersLargeStarStaged(in)
    }
    val agree =
      if (labels.size == 2) {
        val Seq(a, b) = labels.values.toSeq
        val ok = a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty
        s""","labels_identical":$ok"""
      } else ""
    println(out.mkString(
      s"""{"bench":"cc_scaling","cpus":$cpus,"edges":$nEdges,"shape":"$shape",""",
      ",", agree + "}"))
    spark.stop()
  }
}
