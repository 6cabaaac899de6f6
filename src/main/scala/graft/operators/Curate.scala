package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Text.tokens

/** The capstone composition: an end-to-end training-data curation pass built
  * ENTIRELY from the library's verified operators —
  *
  *   quality floor (TextAnalysis.quality)
  *   ∧ language confidence (TextAnalysis.langId: prediction == label)
  *   ∧ near-dup removal (Dedup.clusters: keep only cluster survivors)
  *   → deterministic stratified sample per language (Sampling's content-hash
  *     ranking — same rows on any engine, cluster size, or day)
  *
  * This is the shape a dataset-release pipeline actually runs, and it proves
  * the operators COMPOSE: one DAG, each stage reusing the cached
  * sub-pipelines it shares with the standalone queries. At 100 TB each stage
  * keeps its own posture (per-row projections, one profile shuffle, the
  * sparse pair graph) — composition adds joins on doc_id only, all
  * hash-partitioned on the same key.
  */
object Curate {

  val QualityFloor = 0.45
  val PerLang = 10

  def curate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val quality = TextAnalysis.quality(spark, dir).select($"doc_id", $"quality")
    val confident = TextAnalysis.langId(spark, dir)
      .filter($"correct").select($"doc_id")
    val dupLosers = Dedup.clusters(spark, dir)
      .filter($"cluster_rep" =!= $"doc_id").select($"doc_id")
    val kept = Tables.documents(spark, dir).select($"doc_id", $"lang")
      .join(quality, "doc_id").filter($"quality" >= QualityFloor)
      .join(confident, "doc_id")
      .join(dupLosers, Seq("doc_id"), "left_anti")
    Sampling.rankPerStratum(kept, "lang", PerLang)
      .select($"lang", $"rn", $"doc_id", $"quality")
      .orderBy($"lang", $"rn")
  }

  /** Ingest-time curation: the STREAMING twin of the batch pass, composed
    * entirely from the library's stateless row stages so one call runs
    * unchanged on a batch corpus or an arriving micro-batch —
    *
    *   quality gate ([[TextAnalysis.withQuality]] ≥ [[QualityFloor]])
    *   → mixture gate ([[Sampling.mixtureRows]] vs a batch-trained
    *     broadcast policy — yesterday's corpus trains, today's ingest gates)
    *   → PII scrub ([[TextAnalysis.piiScrubRows]] on the text)
    *   → context chunking ([[Packing.chunkRows]] over the SCRUBBED text)
    *
    * What the batch [[curate]] has that this cannot: corpus-global stages
    * (language-ID profile training, near-dup clustering, deterministic
    * stratified sampling) — those need the whole corpus and stay batch;
    * the stream twin gates and prepares what arrives. No shuffle, no state:
    * the only non-projection is the broadcast policy join.
    * `StreamProjectionSpec` pins batch ≡ stream. */
  def ingestRows(rows: DataFrame, thresholds: DataFrame): DataFrame = {
    val gated = TextAnalysis.withQuality(rows)
      .filter(col("quality") >= QualityFloor)
      .select(rows.columns.map(col).toIndexedSeq: _*)
    val mixed = Sampling.mixtureRows(gated, thresholds)
    val scrubbed = TextAnalysis.piiScrubRows(
      mixed.select(col("doc_id"), col("text").as("raw")))
    Packing.chunkRows(scrubbed.select(col("doc_id"), col("clean").as("text")))
  }

  // ------------------------------------------------------ corpus admission

  /** Benchmark-carve offset for the admission fixture: bench docs are
    * `doc_id ≡ BenchOffset (mod contamBenchStride)`. 7 is coprime with the
    * arrival stride's factor of 10, so the carved benchmark NEVER overlaps
    * the arriving batch (a held-out eval suite is external by definition —
    * an arrival can't be its own benchmark); the `% stride =!= 0` guard
    * keeps that true even if a derived stride ever loses the factor. */
  val BenchOffset = 7

  /** Decision labels, in precedence order: a doc that is both a near-dup
    * and contaminated is recorded as `duplicate` (the cheaper-to-detect,
    * earlier-in-the-production-DAG reason wins deterministically).
    * Expectation violations ([[expectationDecision]]) outrank everything —
    * a malformed row's rejection reason should name the malformation, not
    * whatever content verdict its garbage happened to draw. */
  val Invalid = "invalid"
  val Duplicate = "duplicate"
  val Contaminated = "contaminated"
  val LowQuality = "low_quality"
  val Admitted = "admitted"

  /** Declarative data expectations — the schema-quality gate ahead of the
    * content gate (the table-format CHECK-constraint convention): ordered
    * (name, predicate) pairs over the arrival columns; the decision for a
    * violating row is `invalid:<first failed name>`. Predicates are plain
    * Column expressions (codegen'd, no UDFs); a NULL predicate result
    * counts as FAILED — the conservative read for a gate (an expectation
    * that cannot be evaluated is not satisfied). Returns null for a row
    * that passes every expectation. */
  def expectationDecision(expectations: Seq[(String, Column)]): Column =
    expectations.foldRight(lit(null).cast("string")) { case ((n, p), rest) =>
      when(!coalesce(p, lit(false)), lit(s"$Invalid:$n")).otherwise(rest)
    }

  /** The admission verdict assembly both the batch twin and the streaming
    * lake share: arriving (doc_id, text) rows, an already-verified near-dup
    * pair frame (arriving_id, existing_id), and the benchmark's 8-gram
    * postings (bench_id, gram) in. Per arriving doc out:
    * (doc_id, decision, n_dup_matches, first_dup, n_bench_hits, quality) —
    * decision by the [[Invalid]] > [[Duplicate]] > [[Contaminated]] >
    * [[LowQuality]] > [[Admitted]] precedence. Expectations label the
    * verdict but do not change the candidate sets: an invalid EARLIER
    * arrival still counts as dup evidence for a later copy, exactly as a
    * low-quality one always has — the gate's rejection reasons are
    * per-row, its dedup universe is the arrival content.
    *
    * Scale shape: the dup leg arrives pre-aggregated from an index serve
    * (cost ∝ batch); the contamination leg explodes ONLY the arriving
    * batch's grams against the broadcast benchmark postings (the benchmark
    * is bounded by definition — [[Dedup.contamination]]'s argument); the
    * quality leg is a pure projection. Nothing in the gate touches the
    * corpus. */
  def admitRows(arrivals: DataFrame, dupPairs: DataFrame,
      benchPostings: DataFrame,
      expectations: Seq[(String, Column)] = Nil): DataFrame = {
    val dup = dupPairs
      .groupBy(col("arriving_id").as("doc_id"))
      .agg(count(lit(1)).as("n_dup_matches"),
        min(col("existing_id")).as("first_dup"))
    val toks = arrivals.select(col("doc_id"), tokens(col("text")).as("toks"))
    val cont = toks
      .filter(size(col("toks")) >= Dedup.ContamGram)
      .select(col("doc_id"), explode(
        graft.functions.WordGramHashes(col("toks"), Dedup.ContamGram)).as("gram"))
      .join(broadcast(benchPostings), "gram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= Dedup.ContamMinShared)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"))
    TextAnalysis.withQuality(arrivals)
      .select(col("doc_id"), col("quality"),
        expectationDecision(expectations).as("inv"))
      .join(dup, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("inv").isNotNull, col("inv"))
          .when(col("n_dup_matches").isNotNull, Duplicate)
          .when(col("n_bench_hits").isNotNull, Contaminated)
          .when(col("quality") < QualityFloor, LowQuality)
          .otherwise(Admitted).as("decision"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        col("first_dup"),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        col("quality"))
  }

  /** The corpus-side benchmark 8-gram postings for the admission gate —
    * docs at [[BenchOffset]] within [[Dedup.contamBenchStride]] stand in
    * for the held-out eval suite (never arrivals; see [[BenchOffset]]).
    * Bounded by the stride derivation, so its exploded postings broadcast. */
  private[graft] def benchPostings(spark: SparkSession, dir: String,
      arrivalStride: Long): DataFrame = {
    import spark.implicits._
    val cStride = Dedup.contamBenchStride(Tables.nDocs(spark, dir))
    Tables.spread(Tables.documents(spark, dir))
      .filter($"doc_id" % cStride === BenchOffset &&
        $"doc_id" % arrivalStride =!= 0)
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= Dedup.ContamGram)
      .select($"doc_id".as("bench_id"), explode(
        graft.functions.WordGramHashes($"toks", Dedup.ContamGram)).as("gram"))
  }

  /** Corpus admission, the oracled BATCH twin: every
    * [[Dedup.incrementalStride]]-th document stands in for the arriving
    * crawl batch; the rest is the existing corpus. Each arrival is judged:
    *
    *   [[Duplicate]]    — verified near-dup (Jaccard ≥ 0.8) of an existing
    *                      corpus doc OR of an EARLIER-id arrival (the batch
    *                      is deduped as a set first, first occurrence
    *                      survives — the standard crawl-ingest policy);
    *   [[Contaminated]] — shares ≥ [[Dedup.ContamMinShared]] distinct
    *                      word-8-grams with some single benchmark doc;
    *   [[LowQuality]]   — quality < [[QualityFloor]];
    *   [[Admitted]]     — otherwise.
    *
    * The dup leg is the [[Dedup.dedupIndexServe]] candidate chain with the
    * index side restricted to (existing ∪ earlier-id arrivals) — exactly
    * what a persisted bucket index plus intra-batch first-wins serving
    * sees; cost ∝ batch, never corpus. */
  def admission(spark: SparkSession, dir: String): DataFrame =
    admissionGate(spark, dir, Nil)

  /** The gate with declarative [[expectationDecision]] expectations ahead
    * of it — the oracled twin runs two that real fixture docs violate:
    * `min_tokens` (≥ 30 whitespace tokens) and `max_chars` (≤ 450 chars),
    * in that precedence. Everything downstream of the verdict is the
    * [[admission]] chain unchanged. */
  def expectationsGate(spark: SparkSession, dir: String): DataFrame =
    admissionGate(spark, dir, Seq(
      "min_tokens" -> (size(tokens(col("text"))) >= 30),
      "max_chars" -> (length(col("text")) <= 450)))

  private def admissionGate(spark: SparkSession, dir: String,
      expectations: Seq[(String, Column)]): DataFrame = {
    import spark.implicits._
    val stride = Dedup.incrementalStride(Tables.nDocs(spark, dir))
    val arrivals = Tables.spread(Tables.documents(spark, dir))
      .filter($"doc_id" % stride === 0)
      .select($"doc_id", $"text")
    val docs = graft.sources.Caches.shared(Dedup.signed(spark, dir))
    val buckets = Dedup.bucketRows(docs)
    val cand = buckets.as("x").join(buckets.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" &&
          $"x.doc_id" % stride === 0 &&
          ($"y.doc_id" % stride =!= 0 || $"y.doc_id" < $"x.doc_id"))
      .select($"x.doc_id".as("arriving_id"), $"y.doc_id".as("existing_id"))
      .distinct()
    val a = docs.select($"doc_id".as("arriving_id"), $"grams".as("gr_a"),
      size($"grams").as("na"))
    val b = docs.select($"doc_id".as("existing_id"), $"grams".as("gr_b"),
      size($"grams").as("nb"))
    val inter = graft.functions.IntersectCardinality($"gr_a", $"gr_b")
    val dupPairs = cand.join(a, "arriving_id").join(b, "existing_id")
      .withColumn("jaccard",
        inter.cast("double") / (($"na" + $"nb") - inter).cast("double"))
      .filter($"jaccard" >= Dedup.JaccardThreshold)
      .select($"arriving_id", $"existing_id")
    admitRows(arrivals, dupPairs, benchPostings(spark, dir, stride),
        expectations)
      .orderBy($"doc_id")
  }

  /** The last mile: [[curate]]'s selected documents cut into model-context
    * chunks ([[Packing.chunkRows]]) — the full corpus → curated docs →
    * training-sequence shape a dataset release actually ships. The curated
    * selection is tiny relative to the corpus (a per-language sample), so it
    * broadcasts into a semi-join that prunes the corpus BEFORE the chunk
    * fanout — only survivors are ever tokenized and exploded. */
  def prepare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the selection is bounded-tiny (PerLang × langs rows) and consumed
    // by TWO broadcast joins — materialize it once so the whole curate
    // subplan (quality ∧ langid ∧ clusters ∧ sample) executes once, not
    // once per broadcast build (guide §8: decide on the small table once,
    // then attach the plan to the payload)
    val selected = curate(spark, dir).select($"lang", $"doc_id")
      .localCheckpoint()
    val survivors = Tables.documents(spark, dir)
      .join(broadcast(selected), "doc_id")
    Packing.chunkRows(survivors.select($"doc_id", $"text"))
      .join(broadcast(selected), "doc_id")
      .select($"lang", $"doc_id", $"chunk_id", $"chunk_start",
        $"n_chunk_tokens", $"first_token", $"last_token")
      .orderBy($"lang", $"doc_id", $"chunk_id")
  }

  /** The dataset CARD — the "datasheet for datasets" summary a corpus
    * release ships: volume totals (docs/tokens/chars), the language mix,
    * and the quality-band histogram, as one long-form (metric, value)
    * frame of exact integers (hash-stable by construction). One narrow
    * per-doc projection — lang, quality band, token and char counts; text
    * itself never leaves the scan — feeds three grouped aggregates. At
    * 100 TB cache the projection (three column-pruned scans otherwise);
    * every aggregate's output is O(langs + bands), never corpus-sized.
    * Compose with [[CorpusLake.readCorpusAt]] to card a lake snapshot or
    * branch instead of the raw fixture table. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    cardOf(spark, Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"), col("lang")))

  /** [[datasetCard]] over a LAKE snapshot — the store a release datasheet
    * really describes: the visible set at `version` (head when None),
    * branch-aware through [[CorpusLake.readCorpusAt]]. The lake serves
    * (doc_id, text); language comes from the base table by id (one
    * equi-join, carding is a batch reporting job), `und` (BCP-47
    * undetermined) for lake-born docs the base never saw. */
  def datasetCardLake(spark: SparkSession, dir: String, corpusDir: String,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val visible = CorpusLake.readCorpusAt(spark, dir, corpusDir, version)
    val docs =
      if (visible.columns.contains("lang"))
        visible.select($"doc_id", $"text", $"lang")
      else visible.select($"doc_id", $"text")
        .join(Tables.spread(Tables.documents(spark, dir))
          .select($"doc_id", $"lang"), Seq("doc_id"), "left")
        .select($"doc_id", $"text",
          coalesce($"lang", lit("und")).as("lang"))
    cardOf(spark, docs)
  }

  /** The oracled lake-card twin: the datasheet of the delete-lifecycle
    * lake's HEAD — LWW updates, takedowns, and re-admissions all folded —
    * so the release path is pinned against the store it really runs on,
    * not just the raw fixture table. */
  def cardLakeTwin(spark: SparkSession, dir: String): DataFrame =
    datasetCardLake(spark, dir, CorpusLake.deleteLake(spark, dir))

  /** The [[datasetCard]] quality-band expression as ONE SQL string over
    * `text` — exactly [[TextAnalysis.withQuality]]'s formula, in the form
    * a declared view accepts (a scalar expression: no lateral aliases
    * available). The token array is bound ONCE as a single-element
    * `transform` lambda variable, so the split runs once per document
    * instead of once per sub-term under interpreted HOF evaluation —
    * safe to declare even over a full-corpus backfill of long documents;
    * the batch card keeps its materialized-column fast path. */
  private[graft] val QualityBandSql: String =
    """transform(array(split(text, ' ')), toks ->
      |  CAST(floor(round(
      |    0.25 * (CAST(size(filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE)
      |            / CAST(size(toks) AS DOUBLE)) +
      |    0.5  * (CAST(size(array_distinct(toks)) AS DOUBLE)
      |            / CAST(size(toks) AS DOUBLE)) +
      |    0.05 * (CAST(aggregate(toks, 0, (acc, t) -> acc + length(t)) AS DOUBLE)
      |            / CAST(size(toks) AS DOUBLE)),
      |    6) * 10) AS INT))[0]""".stripMargin

  /** The LIVE dataset card: the FULL [[datasetCardLake]] metric set —
    * volume totals, language mix, quality-band histogram — served from a
    * DECLARED incremental view instead of a batch scan, so the release
    * dashboard stays fresh at commit cadence for O(changed docs) per
    * window. Dims = (language, quality band) where language is an
    * ENRICHMENT column (immutable base-table metadata joined by doc_id;
    * `und` for lake-born docs — the same convention as the batch card)
    * and the band is the exact quality formula as one SQL expression;
    * the card's long form is a groups-sized serve-side fold. */
  def cardLiveTwin(spark: SparkSession, dir: String): DataFrame =
    cardFold(spark, graft.operators.LakeView.readView(spark,
      cardLiveViewDir(spark, dir)))

  /** The datasheet AS OF a pinned lake version through the SAME live
    * view — `readViewAt` time travel folded to the card's long form.
    * Version 0 is the card-live lifecycle's fold watermark (the update
    * epoch, before the takedowns), so this also pins that the watermark
    * version itself keeps serving after compaction. */
  def cardLiveAtTwin(spark: SparkSession, dir: String): DataFrame =
    cardFold(spark, graft.operators.LakeView.readViewAt(spark,
      cardLiveViewDir(spark, dir), 0L))

  /** Live-card QUANTILES: the release datasheet's length percentiles —
    * p50/p95 of document chars per language — served from a DECLARED
    * incremental view over the delete-lifecycle lake (dims = the
    * language enrichment column, quantile measures over length), folded
    * into the card's long form as (metric, value) DOUBLE rows beside the
    * per-language doc counts. Every language group at fixture scale sits
    * far below the sketch's 4096-occurrence capacity, so the sample IS
    * the multiset and the served estimates EQUAL exact interpolated
    * percentiles — the oracle compares VALUES at 6dp (the q19_percentile
    * cross-engine convention), through the full lifecycle: the delete
    * epoch re-sketches retraction-touched languages, so a stale sketch
    * would serve pre-takedown percentiles and hash-mismatch. The
    * value-exact convention holds through sf0.1 (largest group 2 059
    * occurrences < K=4096); above capacity the serve is an estimate by
    * design and the 40k sparse point is checked regime-aware instead
    * (`tools/check_quant_band.py`: ±4σ rank band per group, the exact
    * pin kept for under-capacity groups — COVERAGE.md has the sweep). */
  def cardLiveQuantTwin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // three union legs over one groups-sized serve — share it (same
    // reasoning as [[cardFold]])
    val cells = graft.sources.Caches.shared(
      graft.operators.LakeView.readView(spark,
        cardViewDirs(spark, dir)._2))
    cells.select(concat(lit("docs:"), $"card_lang").as("metric"),
        round($"n_docs".cast("double"), 6).as("value"))
      .unionByName(cells.select(
        concat(lit("p50_chars:"), $"card_lang").as("metric"),
        round($"p50_chars", 6).as("value")))
      .unionByName(cells.select(
        concat(lit("p95_chars:"), $"card_lang").as("metric"),
        round($"p95_chars", 6).as("value")))
      .orderBy($"metric")
  }

  private def cardLiveViewDir(spark: SparkSession, dir: String): String =
    cardViewDirs(spark, dir)._1

  /** The live-card view FAMILY — the full datasheet view and its
    * percentile companion, maintained by the SHARED refresh path
    * ([[graft.operators.LakeView.refreshViews]]) on the standard
    * lifecycle schedule: one history build serves both views per window
    * (the dashboard multiplicity), with the compaction at the update
    * epoch keeping `cardLiveAtTwin`'s fold-watermark time travel. */
  private def cardViewDirs(spark: SparkSession,
      dir: String): (String, String) = {
    val lake = CorpusLake.deleteLake(spark, dir)
    graft.sources.Caches.memoizedValue[(String, String)](spark,
        s"corpus-card-views|$dir") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-card-live").toString
      val live = s"$root/live"; val quant = s"$root/quant"
      graft.operators.LakeView.createView(spark, dir, live,
        dims = Seq(
          "card_lang" -> "coalesce(lang, 'und')",
          "band" -> QualityBandSql),
        measures = Seq(
          "n_toks" -> "CAST(size(split(text, ' ')) AS BIGINT)",
          "n_chars" -> "CAST(length(text) AS BIGINT)"),
        baseCols = Seq("lang"))
      graft.operators.LakeView.createView(spark, dir, quant,
        dims = Seq("card_lang" -> "coalesce(lang, 'und')"),
        measures = Nil,
        quantileMeasures = Seq(
          ("p50_chars", "CAST(length(text) AS DOUBLE)", 0.5),
          ("p95_chars", "CAST(length(text) AS DOUBLE)", 0.95)),
        baseCols = Seq("lang"))
      graft.operators.LakeView.refreshViews(spark, dir, lake,
        Seq(live, quant), upTo = Some(0L))
      graft.operators.LakeView.compactView(spark, live)
      graft.operators.LakeView.compactView(spark, quant)
      graft.operators.LakeView.refreshViews(spark, dir, lake,
        Seq(live, quant))
      (live, quant)
    }
  }

  private def cardFold(spark: SparkSession, cells0: DataFrame): DataFrame = {
    import spark.implicits._
    // the card's long form reads the served cells THREE times (totals,
    // per-language, per-band) — without sharing, each union leg re-runs
    // the whole view-serve subplan (spec/base/delta reads and their
    // exchanges). The cells frame is groups-sized; persist it once
    // (guide §5: cache only what is reused and expensive to recompute —
    // this is both)
    val cells = graft.sources.Caches.shared(cells0)
    val totals = cells.agg(
        sum($"n_docs").as("docs"), sum($"n_toks").as("tokens"),
        sum($"n_chars").as("chars"),
        countDistinct($"card_lang").as("langs"))
      .selectExpr("stack(4, 'docs', docs, 'tokens', tokens, " +
        "'chars', chars, 'langs', langs) as (metric, value)")
    val byLang = cells.groupBy($"card_lang")
      .agg(sum($"n_docs").as("value"))
      .select(concat(lit("lang:"), $"card_lang").as("metric"), $"value")
    val byBand = cells.groupBy($"band")
      .agg(sum($"n_docs").as("value"))
      .select(concat(lit("quality_band:"), $"band".cast("string"))
        .as("metric"), $"value")
    totals.unionByName(byLang).unionByName(byBand).orderBy($"metric")
  }

  private def cardOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // cache the narrow per-doc projection, as the scaladoc above already
    // prescribes for 100 TB ("cache the projection — three column-pruned
    // scans otherwise"): the three grouped aggregates below otherwise
    // re-run the full upstream plan (for the lake card that is the whole
    // snapshot serve — manifest semi-join, LWW window, anti-join) once
    // per union leg. Four narrow columns per doc, text never cached.
    val per = graft.sources.Caches.shared(TextAnalysis.withQuality(docs)
      .select($"lang",
        floor(round($"quality", 6) * 10).cast("int").as("band"),
        size(tokens($"text")).cast("long").as("n_toks"),
        length($"text").cast("long").as("n_chars")))
    val totals = per.agg(
        count(lit(1)).as("docs"), sum($"n_toks").as("tokens"),
        sum($"n_chars").as("chars"),
        countDistinct($"lang").as("langs"))
      .selectExpr("stack(4, 'docs', docs, 'tokens', tokens, " +
        "'chars', chars, 'langs', langs) as (metric, value)")
    val byLang = per.groupBy($"lang").agg(count(lit(1)).as("value"))
      .select(concat(lit("lang:"), $"lang").as("metric"), $"value")
    val byBand = per.groupBy($"band").agg(count(lit(1)).as("value"))
      .select(concat(lit("quality_band:"), $"band".cast("string"))
        .as("metric"), $"value")
    totals.unionByName(byLang).unionByName(byBand).orderBy($"metric")
  }
}
