package graft

import org.apache.spark.sql.SparkSession

/** Candidate-volume scaling measurement for the banded/bucketed near-dup
  * operators. For each scale factor given on the command line it reports,
  * per operator: corpus rows N, candidate pairs C (the pre-verification
  * volume the bucketing scheme admits), and verified output rows O.
  *
  * The point: the 100 TB claim for these operators rests on C growing
  * ~linearly with N (planted near-dups scale linearly; background bucket
  * collisions quadratically — a healthy scheme keeps the background term
  * small). Run with two sf dirs and compare C's growth to N's; results are
  * recorded in SCALING.md.
  *
  * Usage: runMain graft.ScaleProbe /root/testdata/sf0.01 /root/testdata/sf0.1
  */
object ScaleProbe {

  /** Rows the plan's file scans actually DECODED (FileSourceScan
    * numOutputRows, after parquet row-group min/max skipping) — the
    * honest pruning metric a post-predicate row count cannot give,
    * because that count is layout-invariant by construction. */
  private def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
    // execute THIS plan (df.count() would build and execute a different
    // QueryExecution, leaving these metrics at zero)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
  }

  /** Healthy-host reference for [[calibrationProbe]]: median seconds on an
    * idle host (r13). Re-baseline it when the host generation changes. */
  private val CalReference = 0.44

  /** Fixed synthetic throughput probe: median of 3 runs of one canonical
    * hash-agg plan over a bounded scan of `calDir`'s lineitem. Independent
    * of the probe set, so it cannot drift as probes are added. A missing
    * or broken table fails the run: a silent fallback would read as
    * `cal 1.00` and hide the contention it exists to flag. */
  private def calibrationProbe(spark: SparkSession, calDir: String): Double =
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$calDir/lineitem.parquet").limit(1000000)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")), avg(col("l_extendedprice")),
            count(lit(1)))
          .count()
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(1)
    } catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalStateException(
        s"calibration probe failed on SPARK_GRAFT_CAL_DIR=$calDir: ${e.getMessage}", e)
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <sfDir> [sfDir...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    import graft.operators.{Dedup, Similarity, TextAnalysis}

    var calWarmed = false
    args.foreach { dir =>
      val nDocs = graft.sources.Tables.documents(spark, dir).count()
      val nVecs = graft.sources.Tables.embeddings(spark, dir).count()
      val nEvents =
        try graft.sources.Tables.events(spark, dir).count()
        catch { case scala.util.control.NonFatal(_) => 0L }
      // C and O from ONE materialized result (the operator runs once per
      // probe, not once per aggregate); coalesce guards the null sum an
      // empty corpus would produce
      def bloomCO(force: Option[Int]): (Long, Long) =
        Dedup.bloomContaminationImpl(spark, dir, force)
          .agg(coalesce(sum(col("n_bloom_hits")), lit(0L)),
            coalesce(sum(when(col("contaminated"), 1L).otherwise(0L)), lit(0L)))
          .as[(Long, Long)].head()
      // shared two-epoch lake fixture for the corpus_* probes: a 5%
      // bootstrap epoch plus a 1% update epoch, committed via the manifest
      def mkLakeFixture(corpusDir: String): Unit = {
        val docs = graft.sources.Tables.documents(spark, dir)
        docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
            lit(0L).as("epoch"))
          .write.mode("append").parquet(s"$corpusDir/docs")
        docs.filter(col("doc_id") % 200 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            org.apache.spark.sql.functions.concat(col("text"),
              lit(" v2")).as("text"), lit(1L).as("epoch"))
          .write.mode("append").parquet(s"$corpusDir/docs")
        Seq((0L, 0L, 0L, 0L, 0L, 0L), (1L, 0L, 0L, 0L, 0L, 0L))
          .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
            "n_contaminated", "n_low_quality")
          .write.mode("append").parquet(s"$corpusDir/manifest")
      }
      val probes: Seq[(String, Long, () => (Long, Long))] = Seq(
        ("dedup_minhash_lsh", nDocs, () =>
          (Dedup.minhashCandidates(spark, dir).count(),
            Dedup.minhashLsh(spark, dir).count())),
        ("dedup_simhash", nDocs, () =>
          (Dedup.simhashCandidates(spark, dir).count(),
            Dedup.simhash(spark, dir).count())),
        // the two-word wide variant: at ≤ 2^18 docs both schemes derive
        // the same band width (C should roughly match the narrow row);
        // the forced-18 A/B shows the curve the lifted cap buys where the
        // narrow scheme CANNOT follow (its words top out at 15-bit bands)
        ("dedup_simhash_wide", nDocs, () =>
          (Dedup.simhashWideCandidates(spark, dir).count(),
            Dedup.simhashWide(spark, dir).count())),
        ("dedup_simhash_wide_forced18", nDocs, () =>
          (Dedup.simhashWideCandidates(spark, dir, Some(18)).count(),
            0L)),
        // the scheme dispatch (r18): C = the dispatched operator's pair
        // count, O = which branch simhashAuto selected (1 = wide) — the
        // scale ladder documents the 2^18 crossover in measured data, not
        // just the spec pin
        ("dedup_simhash_auto", nDocs, () =>
          (Dedup.simhashAuto(spark, dir).count(),
            if (Dedup.simhashUseWide(nDocs)) 1L else 0L)),
        ("dedup_ngram_jaccard", nDocs, () =>
          (Dedup.ngramCandidates(spark, dir).count(),
            Dedup.ngramJaccard(spark, dir).count())),
        ("dedup_contamination", nDocs, () =>
          (Dedup.contaminationOverlaps(spark, dir).count(),
            Dedup.contamination(spark, dir).count())),
        ("dedup_embedding_lsh", nVecs, () =>
          (Similarity.embeddingCandidates(spark, dir).count(),
            Similarity.nearDupEmbedding(spark, dir).count())),
        // semantic dedup: C = within-cell scored pairs (Σ|cell|², ≈ n^1.5
        // by the derived √n stride), O = dropped vectors
        ("dedup_semantic", nVecs, () =>
          (Similarity.semanticCandidates(spark, dir).count(),
            Similarity.semanticDedup(spark, dir).count())),
        // bloom contamination: C = bloom-SURVIVING corpus gram postings
        // (what actually reaches the exact verify join — exact hits plus
        // the deterministic false-positive background), O = flagged docs
        ("dedup_bloom", nDocs, () => bloomCO(None)),
        // A/B twin pinning the old 2^16 constant: past the fixture floor
        // the derived m must admit MATERIALLY fewer false-positive
        // survivors (at the sparse 40k fixture's 50k-gram benchmark a
        // fixed 2^16 filter is 95% loaded — FPR ≈ 0.82, the filter is
        // effectively transparent)
        ("dedup_bloom_fixed16", nDocs, () => bloomCO(Some(1 << 16))),
        // bm25: C = scored (query, doc) pairs from the rare-term postings
        // join (Σ df over idf-pruned, df-capped query terms), O = emitted
        // top-k rows
        ("text_bm25_topk", nDocs, () =>
          (TextAnalysis.bm25Candidates(spark, dir).count(),
            TextAnalysis.bm25TopK(spark, dir).count())),
        // A/B twin forcing the bare N/20 df cap (no 4096 fixture floor):
        // on the flat fixture vocabulary — where every token's df exceeds
        // 5 % of the corpus — the cap refuses the saturated terms the
        // floored derivation admits, bounding C at the honest price of
        // recall (O drops with it; n_terms_dropped reports the refusals)
        ("text_bm25_topk_nofloor", nDocs, () =>
          (TextAnalysis.bm25Candidates(spark, dir, Some(nDocs / 20)).count(),
            TextAnalysis.bm25TopKImpl(spark, dir, Some(nDocs / 20)).count())),
        // span dedup: C = total span occurrences through the owner shuffle
        // (linear in corpus tokens by construction), O = dropped spans
        ("dedup_spans", nDocs, () =>
          Dedup.spanDedup(spark, dir)
            .agg(coalesce(sum(col("n_spans")), lit(0L)),
              coalesce(sum(col("n_dropped")), lit(0L)))
            .as[(Long, Long)].head()),
        // A/B twins pinning the old compile-time constants (8-bit LSH bands,
        // 4×12 simhash): past fixture scale the derived widths must admit
        // MATERIALLY fewer background candidates than these — the measured
        // evidence that the log₂(N) band-width derivation closes r3's
        // "constants don't scale" gap. At fixture scale forced == derived
        // and the twins cost nothing new.
        ("dedup_embedding_lsh_fixed8", nVecs, () =>
          (Similarity.embeddingCandidates(spark, dir, Some(8)).count(),
            Similarity.nearDupEmbeddingImpl(spark, dir, Some(8)).count())),
        ("dedup_simhash_fixed12", nDocs, () =>
          (Dedup.simhashCandidates(spark, dir, Some(12)).count(),
            Dedup.simhashCandidates(spark, dir, Some(12))
              .filter(s"hamming <= ${Dedup.HammingThreshold}").count())),
        // substring dedup: C = total gram anchors through the postings
        // shuffle (Σ(n_toks − k + 1), linear in corpus tokens by
        // construction), O = duplicated anchors
        ("dedup_substrings", nDocs, () =>
          Dedup.substringDedup(spark, dir)
            .agg(coalesce(sum(col("n_grams")), lit(0L)),
              coalesce(sum(col("n_dup_starts")), lit(0L)))
            .as[(Long, Long)].head()),
        // ANN scan volume: C = ADC-scored (query, vector) pairs, O = final
        // top-k rows. The full-corpus PQ scan is n×|queries| by
        // construction; the IVF×PQ twin shows what cell probing saves
        // (NProbe/|cells| of the corpus per query)
        ("sim_topk_pq", nVecs, () =>
          (Similarity.pqAdcScan(spark, dir).count(),
            Similarity.topkPq(spark, dir).count())),
        ("sim_topk_ivfpq", nVecs, () =>
          (Similarity.ivfPqAdcScan(spark, dir).count(),
            Similarity.topkIvfPq(spark, dir).count())),
        // hard negatives: C = label-mismatch scored (anchor, candidate)
        // pairs. The exact scan is ≈ n×|anchors| by construction; the IVF
        // cell-blocked twin shows what probing saves (NProbe/|cells| of the
        // corpus per anchor — the dense-serving-leg scan-volume story)
        ("sim_hard_negatives", nVecs, () =>
          (Similarity.hardNegativeCandidates(spark, dir).count(),
            Similarity.hardNegatives(spark, dir).count())),
        ("sim_hard_negatives_ivf", nVecs, () =>
          (Similarity.hardNegativeIvfCandidates(spark, dir).count(),
            Similarity.hardNegativesIvf(spark, dir).count())),
        // frame dedup: C = total frames through the owner shuffle (linear
        // in payload bytes by construction — the dedup_spans shape on
        // binary frames), O = duplicated frames
        ("media_frame_dedup", nDocs, () =>
          graft.operators.Multimodal.frameDedup(spark, dir)
            .agg(coalesce(sum(col("n_frames")), lit(0L)),
              coalesce(sum(col("n_dup_frames")), lit(0L)))
            .as[(Long, Long)].head()),
        // cdc dedup: same counting formulation on content-defined chunks —
        // C = chunks through the owner shuffle (linear in payload bytes;
        // the boundary scan is per-row, shuffle-free), O = duplicated chunks
        ("media_cdc_dedup", nDocs, () =>
          graft.operators.Multimodal.cdcDedup(spark, dir)
            .agg(coalesce(sum(col("n_chunks")), lit(0L)),
              coalesce(sum(col("n_dup_chunks")), lit(0L)))
            .as[(Long, Long)].head()),
        // incremental index maintenance: C = cell-bounded ADC scan rows
        // when a 10% re-upload delta is unioned into the lists (the
        // sim_index_append slice), O = scan rows without it. The delta adds
        // its fraction of the corpus to every probed cell, so C/O must
        // track 1 + |delta|/n — scan growth linear in appended volume,
        // never a rebuild
        ("sim_ivfpq_delta_scan", nVecs, () => {
          import graft.operators.Similarity
          val delta = graft.sources.Tables.embeddings(spark, dir)
            .filter(col("vec_id") % 10 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
          val q = Similarity.strideQueries(Similarity.corpus(spark, dir))
          val enc = Similarity.encodeForIndex(spark, dir, delta)
          (Similarity.ivfPqAdcScan(spark, dir, q, extraLists = Some(enc)).count(),
            Similarity.ivfPqAdcScan(spark, dir, q).count())
        }),
        // compaction parity: C = serving scan rows AFTER compacting the
        // delta into the persisted base — with a replayed pre-compaction
        // epoch sitting in the store; O = the pre-compaction base ∪ delta
        // union scan. C/O must be exactly 1.0: compaction plus replay adds
        // ZERO scan rows (the delta overhead is gone, nothing double-lists)
        ("sim_ivfpq_compacted_scan", nVecs, () => {
          import graft.operators.Similarity
          val delta = graft.sources.Tables.embeddings(spark, dir)
            .filter(col("vec_id") % 10 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
          val q = Similarity.strideQueries(Similarity.corpus(spark, dir))
          val enc = Similarity.encodeForIndex(spark, dir, delta)
          val o = Similarity.ivfPqAdcScan(spark, dir, q,
            extraLists = Some(enc)).count()
          val idx = java.nio.file.Files
            .createTempDirectory("probe-compact").toString
          val store = s"$idx/store"
          Similarity.saveIndex(spark, dir, idx)
          graft.storage.DeltaStore.append(enc, store, 0L)
          Similarity.compactIndex(spark, idx, store)
          // crash-replay of the compacted epoch into the truncated store
          graft.storage.DeltaStore.append(enc, store, 0L)
          (Similarity.ivfPqAdcScanSaved(spark, q, idx, Some(store)).count(), o)
        }),
        // drift-advisory cost: C = rows entering the recall comparison
        // (pinned truth + delta-served lists, each ≤ |queries|·k), O =
        // advisory rows (= |queries|). Both are WORKLOAD-sized — the
        // per-batch advisory never scans the corpus beyond the serving
        // scan itself (truth and baseline legs are session-memoized)
        ("sim_drift_check", nVecs, () => {
          import graft.operators.Similarity
          val delta = graft.sources.Tables.embeddings(spark, dir)
            .filter(col("vec_id") % 10 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
          val store = java.nio.file.Files
            .createTempDirectory("probe-drift").toString + "/lists"
          Similarity.encodeForIndex(spark, dir, delta)
            .withColumn("epoch", lit(0L)).write.mode("overwrite").parquet(store)
          val q = Similarity.strideQueries(Similarity.corpus(spark, dir))
          val served = Similarity.topkIvfPqWithDelta(spark, dir, q, delta, store)
          val c = Similarity.topkBruteForce(spark, dir).count() + served.count()
          (c, Similarity.indexDrift(spark, dir).count())
        }),
        // index-serving dedup: C = bucket-collision candidate pairs from
        // the arrivals-vs-index band join (∝ arriving batch × collision
        // rate, never corpus²), O = verified near-dup pairs. The exact
        // verify re-shingles only candidate docs, so C also bounds the
        // lake lookups
        ("dedup_index_serve", nDocs, () =>
          (Dedup.dedupIndexServeCandidates(spark, dir).count(),
            Dedup.dedupIndexServe(spark, dir).count())),
        // lake CDC read cost: C = rows the incremental change read touches
        // (the changed epochs' rows the epoch predicate retains, plus the
        // changed-id prior-visibility probe) vs O = rows a snapshot
        // re-diff must materialize (BOTH full corpus snapshots). A 1%
        // update epoch is committed on top of a 5% bootstrap epoch; C must
        // track the changed volume while O tracks the corpus — the
        // incremental-consumer claim of readCorpusChanges
        ("corpus_changes_scan", nDocs, () => {
          import graft.operators.CorpusLake
          val corpusDir = java.nio.file.Files
            .createTempDirectory("probe-lake").toString + "/corpus"
          mkLakeFixture(corpusDir)
          val nChanged = CorpusLake
            .readCorpusChanges(spark, dir, corpusDir, 0L, None).count()
          val c = spark.read.parquet(s"$corpusDir/docs")
            .filter(col("epoch") > 0L).count() + nChanged
          val o = CorpusLake.readCorpusAt(spark, dir, corpusDir, Some(0L))
            .count() +
            CorpusLake.readCorpusAt(spark, dir, corpusDir, None).count()
          (c, o)
        }),
        // delete-feed read cost: a 0.5% deleteDocs epoch committed on top
        // of the two-epoch lake; C = rows the incremental (head, delete]
        // feed read touches (the tombstone epoch's rows the epoch
        // predicate retains, the emitted delete feed, and the candidate
        // history rows the tombstone-aware prior-visibility window
        // resolves — pruned to the deleted ids BEFORE the window), O =
        // the snapshot re-diff alternative (both full corpus reads). C
        // must track the DELETED volume while O tracks the corpus — the
        // retraction-feed claim of readCorpusChanges under deleteDocs
        ("corpus_delete_feed_scan", nDocs, () => {
          import graft.operators.CorpusLake
          val corpusDir = java.nio.file.Files
            .createTempDirectory("probe-lake-del").toString + "/corpus"
          mkLakeFixture(corpusDir)
          val victims = graft.sources.Tables.documents(spark, dir)
            .filter(col("doc_id") % 200 === 0)
            .select((col("doc_id") + 3000000L).as("doc_id"))
          val vDel = CorpusLake.deleteDocs(spark, corpusDir, victims)
          val nFeed = CorpusLake
            .readCorpusChanges(spark, dir, corpusDir, vDel - 1, None).count()
          val docsStore = spark.read
            .option("recursiveFileLookup", "true").parquet(s"$corpusDir/docs")
          val cand = docsStore
            .join(victims, Seq("doc_id"), "left_semi").count()
          val c = docsStore.filter(col("epoch") >= vDel).count() +
            nFeed + cand
          val o = CorpusLake.readCorpusAt(spark, dir, corpusDir,
              Some(vDel - 1)).count() +
            CorpusLake.readCorpusAt(spark, dir, corpusDir, None).count()
          (c, o)
        }),
        // materialized-view maintenance cost: the same two-epoch lake as
        // corpus_changes_scan, view refreshed incrementally. C = the rows
        // the maintenance actually produces and serves from (signed delta
        // rows written, ≤ bands·versions, plus the changed-feed rows
        // consumed); O = rows a full recompute reads (the corpus at head).
        // C must stay O(bands·versions + changes) while O tracks N
        ("corpus_profile_scan", nDocs, () => {
          import graft.operators.CorpusLake
          val tmp = java.nio.file.Files
            .createTempDirectory("probe-lake-view").toString
          val corpusDir = s"$tmp/corpus"
          val profDir = s"$tmp/prof"
          mkLakeFixture(corpusDir)
          CorpusLake.initProfile(spark, dir, profDir)
          CorpusLake.refreshProfileFromLake(spark, dir, corpusDir, profDir)
          val feed = spark.read.parquet(s"$corpusDir/docs").count()
          val deltaRows = spark.read.parquet(s"$profDir/delta").count()
          val o = CorpusLake.readCorpusAt(spark, dir, corpusDir, None).count()
          (feed + deltaRows, o)
        }),
        // the corpus_changes_scan claim measured HONESTLY on an OPTIMIZED
        // lake: C = rows the epoch-predicate scan actually DECODES (the
        // FileSourceScan's numOutputRows after parquet row-group min/max
        // skipping — a row-count filter would be layout-invariant and
        // could not detect a pruning regression), plus the feed rows.
        // The optimize write uses small parquet row groups so the
        // group-granular skipping a 100 TB file exhibits is measurable at
        // fixture scale; the rewrite's (epoch, doc_id) sort is what keeps
        // each group's epoch range tight. A layout regression (unsorted
        // rewrite) would decode the LAKE here, not the changed volume.
        ("corpus_changes_scan_opt", nDocs, () => {
          import graft.operators.CorpusLake
          val corpusDir = java.nio.file.Files
            .createTempDirectory("probe-lake-cdc-opt").toString + "/corpus"
          mkLakeFixture(corpusDir)
          val hc = spark.sparkContext.hadoopConfiguration
          val (oldB, oldP) = (hc.get("parquet.block.size"),
            hc.get("parquet.page.size"))
          hc.setInt("parquet.block.size", 16 * 1024)
          hc.setInt("parquet.page.size", 8 * 1024)
          try CorpusLake.optimizeCorpus(spark, corpusDir)
          finally {
            if (oldB == null) hc.unset("parquet.block.size")
            else hc.set("parquet.block.size", oldB)
            if (oldP == null) hc.unset("parquet.page.size")
            else hc.set("parquet.page.size", oldP)
          }
          val nChanged = CorpusLake
            .readCorpusChanges(spark, dir, corpusDir, 0L, None).count()
          val c = scannedRows(spark.read.parquet(s"$corpusDir/docs")
            .filter(col("epoch") > 0L)) + nChanged
          val o = CorpusLake.readCorpusAt(spark, dir, corpusDir, Some(0L))
            .count() +
            CorpusLake.readCorpusAt(spark, dir, corpusDir, None).count()
          (c, o)
        }),
        // incremental OPTIMIZE: C = rows the inline pack touches (the
        // live window — reads live/, packs it, truncates it), O = rows a
        // full deep-pass rewrite reads (the whole store). C must track
        // the WINDOW (the 1% slice here) while O tracks the lake — the
        // O(new data)-per-firing claim of the ingest-cadence hygiene
        ("corpus_optimize_inc", nDocs, () => {
          import graft.operators.CorpusLake
          val corpusDir = java.nio.file.Files
            .createTempDirectory("probe-lake-opt-inc").toString + "/corpus"
          val docs = graft.sources.Tables.documents(spark, dir)
          // the settled lake: 5% bootstrap, already packed (flat files)
          docs.filter(col("doc_id") % 20 === 0)
            .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
              lit(0L).as("epoch"))
            .write.mode("append").parquet(s"$corpusDir/docs")
          // the live window: a 1% update epoch in live/
          docs.filter(col("doc_id") % 200 === 0)
            .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
              lit(1L).as("epoch"))
            .write.mode("append").parquet(s"$corpusDir/docs/live")
          val o = spark.read.option("recursiveFileLookup", "true")
            .parquet(s"$corpusDir/docs").count()
          val (packed, _) = CorpusLake
            .optimizeCorpusIncremental(spark, corpusDir)
          (packed, o)
        }),
        // lake OPTIMIZE: the FILE count is the quantity — before, it grows
        // with committed epochs (every append lands its own file set: 16
        // mini-commits × 2 files here), after, with data volume over the
        // target file size, independent of commit count. C = data files
        // after, O = data files before; the logical no-op is pinned by the
        // lifecycle spec and the corpus_optimize oracle — the probe
        // measures the physical effect those cannot see
        ("corpus_optimize_files", nDocs, () => {
          import graft.operators.CorpusLake
          val corpusDir = java.nio.file.Files
            .createTempDirectory("probe-lake-opt").toString + "/corpus"
          val slice = graft.sources.Tables.documents(spark, dir)
            .filter(col("doc_id") % 20 === 0)
            .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
          // distribute on floor(doc_id/20) % 16: the slice's ids are
          // multiples of 20, so doc_id % 16 would only hit {0,4,8,12}
          // and leave 12 of the 16 commits empty
          for (e <- 0L until 16L)
            slice.filter(org.apache.spark.sql.functions
                .floor(col("doc_id") / 20) % 16 === lit(e))
              .withColumn("epoch", lit(e)).repartition(2)
              .write.mode("append").parquet(s"$corpusDir/docs")
          (0L until 16L).map(v => (v, 0L, 0L, 0L, 0L, 0L))
            .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
              "n_contaminated", "n_low_quality")
            .write.mode("append").parquet(s"$corpusDir/manifest")
          val before = CorpusLake.dataFileCount(spark, s"$corpusDir/docs")
          CorpusLake.optimizeCorpus(spark, corpusDir,
            targetRowsPerFile = 4096L)
          (CorpusLake.dataFileCount(spark, s"$corpusDir/docs"), before)
        }),
        // manifest checkpointing: the COMMIT-LISTING backlog is the
        // quantity — before, one file per commit (every read's
        // committed-epoch semi-join lists them all; at a minute-cadence
        // year, ~500k files of metadata); after, O(rows/target) files
        // independent of commit count — the Delta-checkpoint shape. C =
        // manifest data files after compactManifest, O = before. The
        // logical no-op (identical history, pointer-followed commits) is
        // pinned by the lifecycle spec; the probe measures the listing
        // cost the spec cannot see.
        ("corpus_manifest_files", nDocs, () => {
          import graft.operators.CorpusLake
          val corpusDir = java.nio.file.Files
            .createTempDirectory("probe-lake-manifest").toString + "/corpus"
          graft.sources.Tables.documents(spark, dir).limit(1)
            .select(col("doc_id"), col("text"), lit(0L).as("epoch"))
            .write.mode("append").parquet(s"$corpusDir/docs")
          for (v <- 0L until 32L)
            Seq((v, 0L, 0L, 0L, 0L, 0L))
              .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
                "n_contaminated", "n_low_quality")
              .write.mode("append").parquet(s"$corpusDir/manifest")
          val before = CorpusLake.dataFileCount(spark, s"$corpusDir/manifest")
          val (_, after) = CorpusLake.compactManifest(spark, corpusDir)
          (after, before)
        }),
        // incremental run delivery: C = docs the manifest ADVANCE touches
        // (the removed + added legs of the signed aggregate — the changed
        // docs, twice at most), O = docs a from-scratch rebuild of the new
        // snapshot scans (the corpus). C must track the diff (the ~13%
        // twin-churn here) while O tracks N — the O(changes) claim of
        // shipping a delta between pinned runs instead of re-exporting.
        ("corpus_shards_delta_scan", nDocs, () => {
          import graft.operators.CorpusLake
          val docs = graft.sources.Tables.spread(
              graft.sources.Tables.documents(spark, dir))
            .select(col("doc_id"), col("text"))
          val v1 = docs.filter(col("doc_id") % 13 =!= 5)
          val v2 = docs.filter(col("doc_id") % 13 =!= 7)
            .select(col("doc_id"),
              org.apache.spark.sql.functions.when(col("doc_id") % 17 === 3,
                org.apache.spark.sql.functions.concat(col("text"),
                  org.apache.spark.sql.functions.lit(" v2")))
                .otherwise(col("text")).as("text"))
          val diff = CorpusLake.snapshotDiff(v1, v2)
          val removed = v1.join(diff
              .filter(col("change_type").isin("update", "delete"))
              .select(col("doc_id")), Seq("doc_id"), "left_semi").count()
          val added = v2.join(diff
              .filter(col("change_type").isin("insert", "update"))
              .select(col("doc_id")), Seq("doc_id"), "left_semi").count()
          (removed + added, v2.count())
        }),
        // zone-map data skipping: C = files a 21-id range read OPENS
        // (resolved from the collected per-file zones over a size-packed
        // store), O = total live files. O grows linearly with the corpus
        // while C stays O(range/target-file-rows) ≈ constant — the
        // point-lookup-doesn't-scan-the-lake claim. The result identity
        // of the pruned read is pinned by LakeSkippingSpec + the
        // corpus_pruned_read oracle; the probe measures the files-opened
        // collapse the spec cannot see.
        ("corpus_pruned_files", nDocs, () => {
          import graft.operators.CorpusLake
          val corpusDir = java.nio.file.Files
            .createTempDirectory("probe-lake-skip").toString + "/corpus"
          graft.sources.Tables.spread(
              graft.sources.Tables.documents(spark, dir))
            .select(col("doc_id"), col("text"), lit(0L).as("epoch"))
            .write.mode("append").parquet(s"$corpusDir/docs")
          Seq((0L, 0L, 0L, 0L, 0L, 0L))
            .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
              "n_contaminated", "n_low_quality")
            .write.mode("append").parquet(s"$corpusDir/manifest")
          CorpusLake.optimizeCorpusVersioned(spark, corpusDir,
            targetRowsPerFile = 512L)
          CorpusLake.collectFileStats(spark, corpusDir)
          CorpusLake.pruningStats(spark, corpusDir, 100L, 120L)
        }),
        // zero-copy branch economics: after REAL branch activity — create,
        // a branch-local commit, a full overlay read, a merge back — C =
        // bytes the branch dir holds on disk, O = bytes the parent holds.
        // C must track the ablation (the 10% churn here) while O tracks
        // N: any code path that silently materialized the shared history
        // into the branch (the zero-copy claim's failure mode) would blow
        // C up to O. Branching a 100 TB lake stays a KB pointer.
        ("corpus_branch_bytes", nDocs, () => {
          import graft.operators.CorpusLake
          val root = java.nio.file.Files
            .createTempDirectory("probe-lake-branch").toString
          val (parent, branch) = (s"$root/parent", s"$root/exp")
          val docs = graft.sources.Tables.spread(
              graft.sources.Tables.documents(spark, dir))
            .select(col("doc_id"), col("text"))
          docs.select(col("doc_id"), col("text"), lit(0L).as("epoch"))
            .write.mode("append").parquet(s"$parent/docs")
          Seq((0L, 0L, 0L, 0L, 0L, 0L))
            .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
              "n_contaminated", "n_low_quality")
            .write.mode("append").parquet(s"$parent/manifest")
          CorpusLake.createBranch(spark, dir, parent, branch, "exp")
          docs.filter(col("doc_id") % 10 === 1)
            .select(col("doc_id"),
              org.apache.spark.sql.functions.concat(col("text"),
                org.apache.spark.sql.functions.lit(" b")).as("text"),
              lit(1L).as("epoch"))
            .write.mode("append").parquet(s"$branch/docs")
          Seq((1L, 0L, 0L, 0L, 0L, 0L))
            .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
              "n_contaminated", "n_low_quality")
            .write.mode("append").parquet(s"$branch/manifest")
          CorpusLake.readCorpusAt(spark, dir, branch).count()
          CorpusLake.mergeBranch(spark, branch)
          def bytes(d: String): Long = {
            val p = new org.apache.hadoop.fs.Path(d)
            val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
            val it = fs.listFiles(p, true)
            var n = 0L
            while (it.hasNext) n += it.next().getLen
            n
          }
          (bytes(branch), bytes(parent))
        }),
        // declared-view maintenance economics: a refresh window costs
        // O(that window's changed docs), not O(corpus) — C = docs whose
        // history the incremental refresh lag-windows for a 1%-churn
        // epoch, O = docs a full recompute reads. C/O must track the
        // churn fraction as N grows (the at-commit-cadence freshness
        // claim); millis for both paths go to stderr for SCALING.md.
        ("corpus_view_refresh", nDocs, () => {
          import graft.operators.{CorpusLake, LakeView}
          val root = java.nio.file.Files
            .createTempDirectory("probe-view-refresh").toString
          val corpus = s"$root/corpus"
          val docs = graft.sources.Tables.spread(
              graft.sources.Tables.documents(spark, dir))
            .select(col("doc_id"), col("text"))
          def commitEpoch(v: Long, mod: Long): Unit = {
            docs.filter(col("doc_id") % 100 === mod)
              .select(col("doc_id"),
                org.apache.spark.sql.functions.concat(col("text"),
                  org.apache.spark.sql.functions.lit(s" v$v")).as("text"),
                lit(v).as("epoch"))
              .write.mode("append").parquet(s"$corpus/docs")
            Seq((v, 0L, 0L, 0L, 0L, 0L))
              .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
                "n_contaminated", "n_low_quality")
              .write.mode("append").parquet(s"$corpus/manifest")
          }
          commitEpoch(0L, 1L)
          // sums + avg only: the fully-signed legs whose O(changes) claim
          // this probe pins (extremes pay a documented visible-set scan
          // per RETRACTION version — a separate, stated trade)
          val view = s"$root/view"
          LakeView.createView(spark, dir, view,
            dims = Seq("bucket" -> "CAST(doc_id % 7 AS INT)"),
            measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"),
            avgMeasures = Seq("avg_chars" -> "CAST(length(text) AS BIGINT)"))
          LakeView.refreshViewFromLake(spark, dir, corpus, view)
          // the measured window: ONE fresh 1%-churn epoch
          commitEpoch(1L, 2L)
          val t0 = System.nanoTime()
          LakeView.refreshViewFromLake(spark, dir, corpus, view)
          LakeView.readView(spark, view).count()
          val incMs = (System.nanoTime() - t0) / 1000000L
          val t1 = System.nanoTime()
          val full = CorpusLake.readCorpusAt(spark, dir, corpus)
            .select(org.apache.spark.sql.functions
                .expr("CAST(doc_id % 7 AS INT)").as("bucket"),
              org.apache.spark.sql.functions
                .expr("CAST(length(text) AS BIGINT)").as("len"))
            .groupBy(col("bucket"))
            .agg(sum(col("len")),
              org.apache.spark.sql.functions.avg(col("len")))
          val fullN = CorpusLake.readCorpusAt(spark, dir, corpus).count()
          full.count()
          val fullMs = (System.nanoTime() - t1) / 1000000L
          val changed = docs.filter(col("doc_id") % 100 === 2).count()
          System.err.println(s"""[scaleprobe] {"probe":"corpus_view_refresh","sf":"$dir","changed_docs":$changed,"corpus_docs":$fullN,"inc_millis":$incMs,"full_millis":$fullMs}""")
          (changed, fullN)
        }),
        // sketch-measure state economics: a view's HLL/quantile state must
        // DECOUPLE from corpus size — per-group bytes are capped (HLL by
        // lgK, the quantile sample by K), so C/O (persisted sketch bytes
        // over raw value bytes) FALLS as N grows, while a non-sketch
        // design (persisting the values) would hold it constant. One
        // all-docs group makes the curve legible: C flattens at the cap
        // as soon as the group outgrows the sample. Post-compaction state
        // (one row per group) is what's measured — the serving posture.
        ("corpus_view_sketch", nDocs, () => {
          import graft.operators.LakeView
          val root = java.nio.file.Files
            .createTempDirectory("probe-view-sketch").toString
          val corpus = s"$root/corpus"
          val docs = graft.sources.Tables.spread(
              graft.sources.Tables.documents(spark, dir))
            .select(col("doc_id"), col("text"))
          docs.filter(col("doc_id") % 100 === 1)
            .select(col("doc_id"),
              org.apache.spark.sql.functions.concat(col("text"),
                lit(" v0")).as("text"), lit(0L).as("epoch"))
            .write.mode("append").parquet(s"$corpus/docs")
          Seq((0L, 0L, 0L, 0L, 0L, 0L))
            .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
              "n_contaminated", "n_low_quality")
            .write.mode("append").parquet(s"$corpus/manifest")
          val view = s"$root/view"
          LakeView.createView(spark, dir, view,
            dims = Seq("all" -> "CAST(0 AS INT)"),
            measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"),
            distinctMeasures = Seq("d_tok" -> "split(text, ' ')[0]"),
            quantileMeasures = Seq(
              ("p90_chars", "CAST(length(text) AS DOUBLE)", 0.9)))
          LakeView.refreshViewFromLake(spark, dir, corpus, view)
          LakeView.compactView(spark, view)
          val state = spark.read.parquet(s"$view/base")
          val (hllB, qB) = state
            .agg(coalesce(sum(org.apache.spark.sql.functions
                .octet_length(col("d_tok"))), lit(0L)),
              coalesce(sum(org.apache.spark.sql.functions
                .octet_length(col("p90_chars"))), lit(0L)))
            .as[(Long, Long)].head()
          val occ = graft.operators.CorpusLake
            .readCorpusAt(spark, dir, corpus).count()
          System.err.println(s"""[scaleprobe] {"probe":"corpus_view_sketch","sf":"$dir","occurrences":$occ,"hll_bytes":$hllB,"qsketch_bytes":$qB,"qsketch_cap_bytes":${4 + 16 * graft.functions.QSketchKernel.K}}""")
          // C = persisted sketch-state bytes; O = raw value bytes a
          // values-persisting design would hold (8 B × occurrences × 2)
          (hllB + qB, 16L * occ)
        }),
        // branch-DEPTH economics: zone reads and pruningStats walk the
        // parent chain once per ancestor (one pointer read + one zone test
        // per level) — the cost model must be LINEAR in depth, not
        // quadratic (each level must never re-walk its own ancestry). A
        // depth-4 chain with identical per-level churn: C = candidate
        // files a fixed range read opens at the depth-4 leaf, O = the
        // same at depth 1; linear additivity means C ≈ O + 3·(per-level
        // candidates). Per-depth detail (files + millis) goes to stderr
        // for the SCALING.md table.
        ("corpus_branch_depth", nDocs, () => {
          import graft.operators.CorpusLake
          val root = java.nio.file.Files
            .createTempDirectory("probe-branch-depth").toString
          val docs = graft.sources.Tables.spread(
              graft.sources.Tables.documents(spark, dir))
            .select(col("doc_id"), col("text"))
          val parent = s"$root/d0"
          docs.select(col("doc_id"), col("text"), lit(0L).as("epoch"))
            .write.mode("append").parquet(s"$parent/docs")
          Seq((0L, 0L, 0L, 0L, 0L, 0L))
            .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
              "n_contaminated", "n_low_quality")
            .write.mode("append").parquet(s"$parent/manifest")
          CorpusLake.optimizeCorpusVersioned(spark, parent,
            targetRowsPerFile = 512L)
          CorpusLake.collectFileStats(spark, parent)
          var cur = parent
          for (d <- 1 to 4) {
            val b = s"$root/d$d"
            CorpusLake.createBranch(spark, dir, cur, b, s"d$d")
            val v = CorpusLake.nextLakeVersion(spark, b)
            docs.filter(col("doc_id") % 100 === d)
              .select(col("doc_id"),
                org.apache.spark.sql.functions.concat(col("text"),
                  org.apache.spark.sql.functions.lit(s" b$d")).as("text"),
                lit(v).as("epoch"))
              .write.mode("append").parquet(s"$b/docs")
            Seq((v, 0L, 0L, 0L, 0L, 0L))
              .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
                "n_contaminated", "n_low_quality")
              .write.mode("append").parquet(s"$b/manifest")
            CorpusLake.collectFileStats(spark, b)
            cur = b
          }
          val perDepth = (1 to 4).map { d =>
            val leaf = s"$root/d$d"
            val t0 = System.nanoTime()
            val (cand, total) = CorpusLake.pruningStats(spark, leaf,
              100L, 120L)
            val ms = (System.nanoTime() - t0) / 1000000L
            System.err.println(s"""[scaleprobe] {"probe":"corpus_branch_depth","sf":"$dir","depth":$d,"cand":$cand,"total":$total,"millis":$ms}""")
            cand
          }
          (perDepth.last, perDepth.head)
        }),
        // delete-storm recompute bound: a catch-up window carrying V
        // retraction (takedown) epochs must pay the extremes recompute's
        // ONE corpus snapshot scan, not V of them — docs the window never
        // touched are constant across it, and the touched docs'
        // per-version states derive from the window's own history. Same
        // 1%-update lake, then V=10 takedown epochs (real deleteDocs
        // commits) vs a V=1 twin deleting the SAME doc set in one epoch;
        // each catches up in ONE refresh of a min/max + quantile view
        // with an ENRICHMENT dim (so the recompute snapshot carries the
        // corpus × metadata join — the r14 interaction question). C =
        // parquet records read during the V=10 catch-up, O = during the
        // V=1 catch-up: C/O ≈ 1 is the sublinear-in-V claim (the
        // per-version snapshot loop this replaced would put it near V).
        // Millis per leg go to stderr.
        ("corpus_view_delete_storm", nDocs, () => {
          import graft.operators.{CorpusLake, LakeView}
          val mods = 1 to 10
          def catchUp(oneEpoch: Boolean): Long = {
            val root = java.nio.file.Files
              .createTempDirectory("probe-del-storm").toString
            val corpus = s"$root/corpus"
            val docs = graft.sources.Tables.spread(
                graft.sources.Tables.documents(spark, dir))
              .select(col("doc_id"), col("text"))
            docs.filter(col("doc_id") % 100 === 1)
              .select(col("doc_id"),
                org.apache.spark.sql.functions.concat(col("text"),
                  lit(" v0")).as("text"), lit(0L).as("epoch"))
              .write.mode("append").parquet(s"$corpus/docs")
            Seq((0L, 0L, 0L, 0L, 0L, 0L))
              .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
                "n_contaminated", "n_low_quality")
              .write.mode("append").parquet(s"$corpus/manifest")
            val view = s"$root/view"
            LakeView.createView(spark, dir, view,
              dims = Seq("bucket" -> "CAST(doc_id % 7 AS INT)",
                "vlang" -> "coalesce(lang, 'und')"),
              measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"),
              minMeasures = Seq(
                "min_chars" -> "CAST(length(text) AS BIGINT)"),
              maxMeasures = Seq(
                "max_chars" -> "CAST(length(text) AS BIGINT)"),
              quantileMeasures = Seq(
                ("p90_chars", "CAST(length(text) AS DOUBLE)", 0.9)),
              baseCols = Seq("lang"))
            LakeView.refreshViewFromLake(spark, dir, corpus, view)
            // mod 47 keeps every slice non-empty at the 500-doc fixture
            if (oneEpoch)
              CorpusLake.deleteDocs(spark, corpus,
                docs.filter(mods.map(m => col("doc_id") % 47 === m)
                  .reduce(_ || _)).select(col("doc_id")))
            else mods.foreach { m =>
              CorpusLake.deleteDocs(spark, corpus,
                docs.filter(col("doc_id") % 47 === m)
                  .select(col("doc_id")))
            }
            val read = new java.util.concurrent.atomic.AtomicLong(0L)
            val listener = new org.apache.spark.scheduler.SparkListener {
              override def onTaskEnd(
                  e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
                if (e.taskMetrics != null)
                  read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
            }
            spark.sparkContext.addSparkListener(listener)
            val t0 = System.nanoTime()
            var ms = 0L
            try {
              LakeView.refreshViewFromLake(spark, dir, corpus, view)
              // timing stops HERE: only records_read needs the fixpoint
              // drain below, and its 250 ms poll steps would otherwise
              // inflate every leg's millis by ~2x at fixture scale
              ms = (System.nanoTime() - t0) / 1000000L
              // listener events drain asynchronously — poll to a fixpoint
              var prev = -1L
              while (prev != read.get()) {
                prev = read.get(); Thread.sleep(250)
              }
            } finally spark.sparkContext.removeSparkListener(listener)
            System.err.println(s"""[scaleprobe] {"probe":"corpus_view_delete_storm","sf":"$dir","takedown_epochs":${if (oneEpoch) 1 else mods.size},"records_read":${read.get()},"millis":$ms}""")
            read.get()
          }
          (catchUp(oneEpoch = false), catchUp(oneEpoch = true))
        }),
        // shared-scan multi-view economics: refreshViews must read the
        // commit window's history ONCE for N views, not N times. Same
        // 1%-churn lake, three sums views; C = parquet records read by
        // ONE refreshViews catch-up of all three, O = by three solo
        // refreshViewFromLake catch-ups on an identical twin fixture.
        // C/O → ~1/3 (+ the per-view aggregation constant) is the
        // shared-history claim; at real view counts the saving is ~N×.
        ("corpus_views_shared_scan", nDocs, () => {
          import graft.operators.{CorpusLake, LakeView}
          def build(): (String, Seq[String]) = {
            val root = java.nio.file.Files
              .createTempDirectory("probe-views-shared").toString
            val corpus = s"$root/corpus"
            val docs = graft.sources.Tables.spread(
                graft.sources.Tables.documents(spark, dir))
              .select(col("doc_id"), col("text"))
            docs.filter(col("doc_id") % 100 === 1)
              .select(col("doc_id"),
                org.apache.spark.sql.functions.concat(col("text"),
                  lit(" v0")).as("text"), lit(0L).as("epoch"))
              .write.mode("append").parquet(s"$corpus/docs")
            Seq((0L, 0L, 0L, 0L, 0L, 0L))
              .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
                "n_contaminated", "n_low_quality")
              .write.mode("append").parquet(s"$corpus/manifest")
            val views = (1 to 3).map { i =>
              val v = s"$root/view$i"
              LakeView.createView(spark, dir, v,
                dims = Seq("bucket" -> s"CAST(doc_id % ${5 + i} AS INT)"),
                measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"))
              v
            }
            (corpus, views)
          }
          def recordsDuring(body: => Unit): Long = {
            val read = new java.util.concurrent.atomic.AtomicLong(0L)
            val listener = new org.apache.spark.scheduler.SparkListener {
              override def onTaskEnd(
                  e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
                if (e.taskMetrics != null)
                  read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
            }
            spark.sparkContext.addSparkListener(listener)
            try {
              body
              var prev = -1L
              while (prev != read.get()) {
                prev = read.get(); Thread.sleep(250)
              }
            } finally spark.sparkContext.removeSparkListener(listener)
            read.get()
          }
          val (sharedCorpus, sharedViews) = build()
          val c = recordsDuring {
            LakeView.refreshViews(spark, dir, sharedCorpus, sharedViews)
          }
          val (soloCorpus, soloViews) = build()
          val o = recordsDuring {
            soloViews.foreach(v =>
              LakeView.refreshViewFromLake(spark, dir, soloCorpus, v))
          }
          System.err.println(s"""[scaleprobe] {"probe":"corpus_views_shared_scan","sf":"$dir","views":3,"shared_records":$c,"solo_records":$o}""")
          (c, o)
        }),
        // view-serve cost vs DELTA BACKLOG: readView folds base + every
        // delta row above the fold watermark, so between compactions the
        // serve pays O(versions-since-fold × groups) on top of the base.
        // The stream path compacts on its optimize cadence; a SOLO
        // refresh loop can run unboundedly uncompacted — this measures
        // that growth (serve records-read + millis at backlog 1/8/32
        // versions) and pins the fix: a twin view refreshed with
        // compactEvery=8 must hold its serve flat while the uncompacted
        // one grows linearly. C = serve records at backlog 32, O = after
        // an explicit compaction (the floor) — C/O is the growth factor
        // an operator buys back with the knob.
        ("corpus_view_backlog", nDocs, () => {
          import graft.operators.LakeView
          val root = java.nio.file.Files
            .createTempDirectory("probe-view-backlog").toString
          val corpus = s"$root/corpus"
          val docs = graft.sources.Tables.spread(
              graft.sources.Tables.documents(spark, dir))
            .select(col("doc_id"), col("text"))
          def commitEpoch(v: Long, mod: Long): Unit = {
            docs.filter(col("doc_id") % 100 === mod)
              .select(col("doc_id"),
                org.apache.spark.sql.functions.concat(col("text"),
                  lit(s" v$v")).as("text"), lit(v).as("epoch"))
              .write.mode("append").parquet(s"$corpus/docs")
            Seq((v, 0L, 0L, 0L, 0L, 0L))
              .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
                "n_contaminated", "n_low_quality")
              .write.mode("append").parquet(s"$corpus/manifest")
          }
          commitEpoch(0L, 1L)
          val view = s"$root/view"; val knob = s"$root/knob"
          Seq(view, knob).foreach { v =>
            LakeView.createView(spark, dir, v,
              dims = Seq("bucket" -> "CAST(doc_id % 7 AS INT)"),
              measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"))
          }
          LakeView.refreshViewFromLake(spark, dir, corpus, view)
          LakeView.refreshViewFromLake(spark, dir, corpus, knob)
          def serveCost(vd: String): (Long, Long) = {
            val read = new java.util.concurrent.atomic.AtomicLong(0L)
            val listener = new org.apache.spark.scheduler.SparkListener {
              override def onTaskEnd(
                  e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
                if (e.taskMetrics != null)
                  read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
            }
            spark.sparkContext.addSparkListener(listener)
            var ms = 0L
            try {
              val t0 = System.nanoTime()
              LakeView.readView(spark, vd).count()
              ms = (System.nanoTime() - t0) / 1000000L
              var prev = -1L
              while (prev != read.get()) {
                prev = read.get(); Thread.sleep(250)
              }
            } finally spark.sparkContext.removeSparkListener(listener)
            (read.get(), ms)
          }
          var committed = 0L
          var last = (0L, 0L)
          Seq(1, 8, 32).foreach { b =>
            while (committed < b) {
              committed += 1
              commitEpoch(committed, (committed % 45) + 2)
            }
            LakeView.refreshViewFromLake(spark, dir, corpus, view)
            LakeView.refreshViewFromLake(spark, dir, corpus, knob,
              compactEvery = 8)
            val (r, ms) = serveCost(view)
            val (kr, kms) = serveCost(knob)
            last = (r, ms)
            System.err.println(s"""[scaleprobe] {"probe":"corpus_view_backlog","sf":"$dir","versions_since_fold":$b,"serve_records":$r,"serve_millis":$ms,"knob_records":$kr,"knob_millis":$kms}""")
          }
          LakeView.compactView(spark, view)
          val (floorR, floorMs) = serveCost(view)
          System.err.println(s"""[scaleprobe] {"probe":"corpus_view_backlog","sf":"$dir","versions_since_fold":0,"serve_records":$floorR,"serve_millis":$floorMs}""")
          (last._1, floorR)
        }),
        // commit→view-visible FRESHNESS: the declared-view pitch is a
        // dashboard fresh at commit cadence — measure what each attached
        // view costs a micro-batch. One ingest stream (real admission
        // gate, real lease, real manifest protocol) commits 3 batches of
        // fresh docs with 0, 1, and 2 live views attached (refreshViews
        // rides the batch); C = median batch millis at 2 views, O = at 0
        // views. The per-batch view overhead must stay within ~2× of the
        // bare-ingest batch (each view's refresh window is ONE epoch —
        // O(batch), never O(lake)); if it ever regresses past that, the
        // upTo bite mechanism refreshes every k batches instead.
        ("corpus_view_freshness", nDocs, () => {
          import graft.operators.{CorpusLake, LakeView}
          import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
          implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
          import spark.implicits._
          val root = java.nio.file.Files
            .createTempDirectory("probe-view-fresh").toString
          CorpusLake.initCorpus(spark, dir, s"$root/idx")
          def batchMedian(nViews: Int): Long = {
            val leg = s"$root/v$nViews"
            val corpus = s"$leg/corpus"
            val views = (1 to nViews).map { i =>
              val v = s"$leg/view$i"
              LakeView.createView(spark, dir, v,
                dims = Seq("bucket" -> s"CAST(doc_id % ${5 + i} AS INT)"),
                measures = Seq(
                  "chars" -> "CAST(length(text) AS BIGINT)"))
              v
            }
            val in = MemoryStream[(Long, String)]
            val q = CorpusLake.maintainCorpusStream(
                in.toDF().toDF("doc_id", "text"), spark, dir,
                s"$root/idx", corpus, s"$leg/maint",
                viewDirs = views)
              .option("checkpointLocation", s"$leg/ck").start()
            val times = (1 to 3).map { b =>
              val ids = (1 to 25).map(i =>
                (90000000L + nViews * 1000 + b * 100 + i,
                  (1 to 40).map(w => s"fresh$nViews$b${i}w$w")
                    .mkString(" ")))
              val t0 = System.nanoTime()
              in.addData(ids)
              q.processAllAvailable()
              (System.nanoTime() - t0) / 1000000L
            }
            q.stop()
            System.err.println(s"""[scaleprobe] {"probe":"corpus_view_freshness","sf":"$dir","views":$nViews,"batch_millis":[${times.mkString(",")}]}""")
            times.sorted.apply(1)
          }
          val bare = batchMedian(0)
          batchMedian(1)
          val two = batchMedian(2)
          (two, bare)
        }),
        // streaming-funnel state bound: the reorder buffer holds, per user,
        // only events inside the watermark horizon (10 min), so its worst
        // case is the max per-(user, horizon-window) event count. C = total
        // events through the groupBy shuffle (linear by construction); O =
        // that max — the linear-state claim is C ∝ N with O ~constant
        // (users scale with N, per-user rate doesn't)
        ("funnel_state", nEvents, () => {
          val ev = graft.sources.Tables.events(spark, dir)
          (ev.count(),
            ev.groupBy(col("user_id"),
                org.apache.spark.sql.functions.window(col("ts"), "10 minutes"))
              .count()
              .agg(coalesce(org.apache.spark.sql.functions.max(col("count")), lit(0L)))
              .as[Long].head())
        })
      )
      // SPARK_GRAFT_PROBE_ONLY=a,b (local tuning): restrict to named probes
      val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      // a fixture dir generated before ScaleFixture wrote events.parquet
      // reports nEvents = 0 (the defensive count above): SKIP the events
      // probe rather than letting its closure throw mid-sweep and abort
      // the remaining probes
      val runnable = probes.filterNot { case (name, n, _) =>
        val skip = name == "funnel_state" && n == 0
        if (skip) System.err.println(
          s"[scaleprobe] $dir has no events table — skipping $name")
        skip
      }
      // host-contention calibration PER SCALE POINT (the r17 verdict:
      // cross-scale ratio trends measured in different windows are
      // contention-confounded — SCALING.md's 40k-vs-200k freshness spread
      // was exactly that). A fixed 1M-row probe, run
      // before and after each dir's sweep against a STABLE table dir
      // (sparse fixtures carry no lineitem), so every probe line can be
      // read against the worst cal of its own window.
      val calDir = sys.env.getOrElse("SPARK_GRAFT_CAL_DIR",
        "/root/testdata/sf0.1")
      // discard one probe run first: the FIRST calibration in a fresh JVM
      // measures JIT compilation, not host throughput
      if (!calWarmed) { calibrationProbe(spark, calDir); calWarmed = true }
      val calStart = calibrationProbe(spark, calDir) / CalReference
      only.fold(runnable)(s => runnable.filter(p => s(p._1))).foreach { case (name, n, run) =>
        val (c, o) = run()
        println(s"""{"probe":"$name","sf":"$dir","corpus":$n,"candidates":$c,"output":$o}""")
        graft.sources.Caches.releaseAll()
      }
      val calEnd = calibrationProbe(spark, calDir) / CalReference
      System.err.println(f"""[scaleprobe] {"sf":"$dir","cal_start":$calStart%.2f,"cal_end":$calEnd%.2f,"cal_worst":${math.max(calStart, calEnd)}%.2f}""")
    }
    spark.stop()
  }
}
