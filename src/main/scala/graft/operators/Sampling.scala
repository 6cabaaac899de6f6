package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.Text.hash60

/** Reproducible sampling for training-data pipelines. Random `sample()` is
  * seed- and partitioning-dependent and differs across engines/runs; these
  * operators sample by CONTENT HASH, so the same row set is selected on any
  * engine, any cluster size, any day — the property a dataset release
  * pipeline actually needs (and what makes them DuckDB-oracle-checkable).
  *
  * Scale: both are single-pass projections + a filter (systematic) or one
  * shuffle on the stratum key (stratified top-k). No sort of the full data.
  */
object Sampling {

  val SamplePercent = 5

  /** Systematic 5% sample of lineitem: keep rows whose 60-bit content hash
    * of the primary key falls in the lowest 5% of the hash space. Filter is
    * pushed... computed per-row, no shuffle, no sort. */
  def systematic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .withColumn("h", hash60(concat_ws("#", $"l_orderkey", $"l_linenumber")))
      .filter(pmod($"h", lit(100)) < SamplePercent)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val PerStratum = 10

  /** The determinism-critical core shared by [[stratified]] and
    * [[graft.operators.Curate.curate]]: rank rows within each stratum by the
    * 60-bit content hash of `doc_id` (engine/cluster/run-invariant — the
    * md5-substr-15 oracle fragment), keep `k` per stratum as column `rn`.
    * One formula, one oracle twin — callers must not re-implement it. */
  def rankPerStratum(df: DataFrame, stratum: String, k: Int): DataFrame =
    df.withColumn("h", hash60(col("doc_id").cast("string")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(stratum)).orderBy(col("h").asc, col("doc_id").asc)))
      .filter(col("rn") <= k)
      .drop("h")

  /** Stratified sample: a fixed quota per stratum (lang), rows ranked by
    * content hash (deterministic, unbiased within stratum). One shuffle on
    * the stratum key; per-group top-k via row_number. */
  def stratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rankPerStratum(Tables.documents(spark, dir), "lang", PerStratum)
      .select($"lang", $"rn", $"doc_id", $"n_chars")
      .orderBy($"lang", $"rn")
  }

  val BrandPrefix = 12
  val MaxEditDistance = 8

  /** Edit-distance string similarity: near-matching part-name prefixes
    * within a (brand, first-letter) canopy — the standard entity-resolution
    * blocking that keeps the pair space per-block, never global. The
    * distance is [[graft.functions.EditDistance]] — Myers' bit-parallel
    * Levenshtein, value-identical to the builtin `levenshtein` (the oracle's
    * formulation) but O(n) word ops per pair instead of O(n²) cells, which
    * dominates when a block sweep emits ~10⁶ pairs per partition. */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir)
      .select($"p_partkey", $"p_brand", substring(lower($"p_name"), 1, BrandPrefix).as("pfx"),
        substring(lower($"p_name"), 1, 1).as("blk"))
    parts.as("a").join(parts.as("b"),
        $"a.p_brand" === $"b.p_brand" && $"a.blk" === $"b.blk" &&
          $"a.p_partkey" < $"b.p_partkey")
      .select($"a.p_partkey".as("key_a"), $"b.p_partkey".as("key_b"),
        graft.functions.EditDistance($"a.pfx", $"b.pfx").as("edit_dist"))
      .filter($"edit_dist" <= MaxEditDistance)
      .orderBy($"key_a", $"key_b")
  }

  val MixtureScale = 1000000L

  /** Source-mixture sampling (the domain-reweighting step of training-data
    * assembly): each source gets a target share proportional to its weight,
    * and documents are kept by content hash at the per-source rate that
    * realizes the target mixture — deterministic across engines, reruns and
    * cluster sizes, like every sampler here. The weights are a stand-in
    * policy derived from the source name (w = src_index % 4 + 1); a real
    * pipeline would join a curated weights table — same plan shape.
    *
    * All rate arithmetic is INTEGER: threshold_s = min(S, ⌊S·w_s·N /
    * (W·n_s)⌋) in the S = [[MixtureScale]] hash space, so both engines cut
    * at exactly the same hash values (a double rate could round a boundary
    * hash differently). Scale: one tiny per-source count shuffle, a
    * single-row totals aggregate, and a BROADCAST of the O(|sources|) rate
    * table back onto the corpus — the corpus itself is touched once,
    * filtered by a pure projection, never shuffled. */
  def mixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    mixtureRows(docs.select($"doc_id", $"source", $"lang"),
        mixtureThresholds(spark, dir))
      .orderBy($"doc_id")
  }

  /** The trained policy: per-source hash-space thresholds realizing the
    * weighted target mixture (see [[mixture]]). O(|sources|) rows. */
  def mixtureThresholds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weighted = Tables.documents(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_s"))
      .withColumn("w", substring($"source", 4, 16).cast("long") % 4 + 1)
    val totals = weighted.agg(sum($"n_s").as("n_total"), sum($"w").as("w_total"))
    weighted.join(broadcast(totals), lit(true))
      .select($"source", least(lit(MixtureScale),
        expr(s"($MixtureScale * w * n_total) div (w_total * n_s)")).as("threshold"))
  }

  /** Apply a trained mixture policy to any (…, doc_id, source) relation:
    * a stateless per-row hash test against the BROADCAST threshold table,
    * so the same call gates an ingest STREAM (stream-static broadcast join
    * — the policy is trained in batch over yesterday's corpus, applied at
    * today's ingest; `StreamProjectionSpec` pins batch/stream agreement).
    * Keeps exactly the caller's columns. */
  def mixtureRows(rows: DataFrame, thresholds: DataFrame): DataFrame = {
    val cols = rows.columns.map(col).toIndexedSeq
    rows.join(broadcast(thresholds), "source")
      .filter(pmod(hash60(concat(lit("mix|"), col("doc_id").cast("string"))),
        lit(MixtureScale)) < col("threshold"))
      .select(cols: _*)
  }

  /** Token budget of [[temperatureMixture]]: keep half the corpus tokens. */
  val TempBudgetDen = 2L

  /** Temperature-scaled mixture over languages with a TOKEN budget — the
    * multilingual balancing method of mBERT/XLM-R/mT5: sampling mass
    * p_ℓ ∝ (tokens_ℓ)^τ flattens the head languages and up-weights the
    * tail, and each language's per-doc keep rate is the one that spends a
    * global token budget B (here tokens_total/[[TempBudgetDen]]) in
    * proportion p_ℓ: rate_ℓ = min(1, B·p_ℓ/tokens_ℓ). τ is pinned at 1/2,
    * i.e. `sqrt` — IEEE 754 requires sqrt be correctly rounded, so the
    * policy doubles are bit-identical in every engine (a general pow(x, τ)
    * is only faithfully rounded and could flip a boundary hash); the doc
    * decision itself is the [[mixture]] integer-hash test. Scale shape:
    * one per-language token-sum shuffle (map-side partials), a one-row
    * totals aggregate, the O(|langs|) policy BROADCAST back; the corpus is
    * touched once and never shuffled. Emits every doc with its `selected`
    * flag (the gated-ingest view is [[temperatureMixtureRows]]). */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        size(graft.functions.Text.tokens($"text")).cast("long").as("n_ws_tokens"))
    temperatureMixtureRows(docs, temperatureThresholds(spark, dir))
      .orderBy($"doc_id")
  }

  /** The trained policy: per-language keep thresholds in the
    * [[MixtureScale]] hash space. threshold_ℓ = min(S, round(S·T·√t_ℓ /
    * ([[TempBudgetDen]]·z·t_ℓ))) with T = Σt_ℓ, z = Σ√t_ℓ. */
  def temperatureThresholds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perLang = Tables.documents(spark, dir)
      .select($"lang", size(graft.functions.Text.tokens($"text")).cast("long").as("nt"))
      .groupBy($"lang").agg(sum($"nt").as("tok_l"))
    val totals = perLang.agg(sum($"tok_l").as("tok_total"),
      sum(sqrt($"tok_l")).as("z"))
    perLang.join(broadcast(totals), lit(true))
      .select($"lang", least(lit(MixtureScale),
        round(lit(MixtureScale) * $"tok_total" * sqrt($"tok_l") /
          (lit(TempBudgetDen) * $"z" * $"tok_l")).cast("long")).as("threshold"))
  }

  /** Apply a trained temperature policy to any (…, doc_id, lang) relation —
    * stateless broadcast-join + integer hash test, so it gates an ingest
    * STREAM exactly like [[mixtureRows]] does. Carries the policy
    * `threshold` and the decision `selected` alongside the caller's
    * columns. LEFT join: a language absent from the trained policy (a new
    * language appearing mid-stream) must SURFACE with threshold 0 /
    * selected = false — the conservative reject — rather than silently
    * vanish from the gate the way an inner join would drop it. */
  def temperatureMixtureRows(rows: DataFrame, thresholds: DataFrame): DataFrame = {
    val cols = rows.columns.map(col).toIndexedSeq
    rows.join(broadcast(thresholds), Seq("lang"), "left")
      .select(cols :+ coalesce(col("threshold"), lit(0L)).as("threshold") :+
        (pmod(hash60(concat(lit("tmix|"), col("doc_id").cast("string"))),
          lit(MixtureScale)) < coalesce(col("threshold"), lit(0L))).as("selected"): _*)
  }

  val DsirBuckets = 1024L
  val DsirAlpha = 0.5
  val DsirTargetLang = "en"

  /** DSIR — data selection by importance resampling (Xie et al. 2023): score
    * every raw document by how much more likely its hashed n-gram features
    * are under a TARGET domain than under the raw corpus, then keep the
    * documents the target distribution up-weights. Features are unigrams +
    * bigrams hashed into [[DsirBuckets]] buckets (the paper's hashing trick:
    * the model is FIXED-SIZE regardless of corpus scale — that is what makes
    * it broadcastable below); bucket distributions are add-α smoothed and
    * the per-doc score is the summed log-likelihood ratio
    * Σ₉ [ln p̂(h(g)) − ln q̂(h(g))]. The fixture's target domain is
    * `lang = 'en'` — a stand-in for "a small trusted high-quality sample";
    * `selected` marks docs the ratio favors (logw ≥ 0).
    *
    * Scale shape: one cached gram projection feeds (a) the two bucket-count
    * aggregates — FIXED [[DsirBuckets]]-row tables, broadcast back — and
    * (b) the scoring pass: per-gram broadcast joins + one partial-aggregated
    * doc_id reduction. The corpus is read once, shuffled once (the doc_id
    * agg); nothing vocabulary-scale moves, because the hashing trick capped
    * the feature space. */
  def dsir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (tgt, raw, totals) = dsirModel(spark, dir)
    dsirScoreRows(Tables.spread(Tables.documents(spark, dir))
        .select($"doc_id", $"text"), tgt, raw, totals)
      .orderBy($"doc_id")
  }

  /** The hashed-bucket feature projection shared by training and scoring:
    * (…, b) rows, one per unigram/bigram occurrence. */
  private def dsirGrams(rows: DataFrame): DataFrame = {
    val keep = rows.columns.filter(_ != "text").map(col).toIndexedSeq
    val toks = rows.withColumn("s", graft.functions.Text.tokens(col("text")))
    toks.select(keep :+ explode(concat(col("s"),
        when(size(col("s")) >= 2, transform(sequence(lit(1), size(col("s")) - 1),
          i => concat_ws(" ", element_at(col("s"), i), element_at(col("s"), i + 1))))
          .otherwise(array().cast("array<string>")))).as("g"): _*)
      .select(keep :+ pmod(hash60(concat(lit("dsir|"), col("g"))),
        lit(DsirBuckets)).as("b"): _*)
  }

  /** The trained DSIR artifact: target/raw bucket-count tables plus the
    * (t, r) totals row — all FIXED-size ([[DsirBuckets]] rows), the
    * property that lets [[dsirScoreRows]] broadcast them at any corpus
    * scale. */
  def dsirModel(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val grams = graft.sources.Caches.shared(
      dsirGrams(Tables.spread(Tables.documents(spark, dir))
        .select($"doc_id", $"lang", $"text")))
    val tgt = grams.filter($"lang" === DsirTargetLang)
      .groupBy($"b").agg(count(lit(1)).as("ct"))
    val raw = grams.groupBy($"b").agg(count(lit(1)).as("cr"))
    val totals = grams.agg(
      sum(when($"lang" === DsirTargetLang, 1L).otherwise(0L)).as("t"),
      count(lit(1)).as("r"))
    (tgt, raw, totals)
  }

  /** Score any (doc_id, text) relation against a trained model — batch or
    * STREAM (broadcast model joins + an update-mode per-doc reduction; the
    * [[graft.operators.TextAnalysis.lmScoreStream]] shape). Raw counts join
    * LEFT too: an arriving document may hash into buckets the training
    * corpus never touched, and both distributions then price it at their
    * smoothing floor. */
  def dsirScoreRows(rows: DataFrame, tgt: DataFrame, raw: DataFrame,
      totals: DataFrame): DataFrame = {
    dsirGrams(rows.select(col("doc_id"), col("text")))
      .join(broadcast(raw), Seq("b"), "left")
      .join(broadcast(tgt), Seq("b"), "left")
      .join(broadcast(totals), lit(true))
      .select(col("doc_id"),
        (log((coalesce(col("ct"), lit(0L)) + DsirAlpha) / (col("t") + lit(0.5) * DsirBuckets)) -
         log((coalesce(col("cr"), lit(0L)) + DsirAlpha) / (col("r") + lit(0.5) * DsirBuckets))).as("lw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), round(sum(col("lw")), 6).as("logw"))
      .withColumn("selected", col("logw") >= 0)
  }

  val ShuffleEpoch = 1

  /** Fixture floor for the shard count — [[shuffleShards]] derives above. */
  val ShuffleShards = 8

  /** Docs per shard at the production sizing the epoch-shuffle scaladoc
    * states (a shard must sort in one task's ~2 GiB memory; at ~4 KiB per
    * document that is 2¹⁹ docs). */
  private[graft] val ShardDocs = 512L * 1024

  /** Shard count derived from corpus size with the fixture-floored pattern
    * of `Similarity.ivfCellStride`: max([[ShuffleShards]], ⌈n/2¹⁹⌉) — the
    * "100 TB ⇒ ~50 k shards" sizing as code (25 G docs ⇒ ~48 k shards).
    * Shard ids are ORACLE-VISIBLE columns (q_shuffle_seeded,
    * pipeline_curriculum pin `mod 8` literals), so every fixture scale
    * must stay at the floor and the derivation warns loudly past it.
    * Costs one metadata-only parquet count. */
  private[graft] def shuffleShards(n: Long): Long =
    graft.operators.Dedup.warnIfPastOracleFloor("shuffle shards",
      math.max(ShuffleShards.toLong, (n + ShardDocs - 1) / ShardDocs),
      ShuffleShards.toLong)

  /** Deterministic seeded corpus shuffle — the epoch-ordering step of a
    * training run: every document gets a pseudo-random position from the
    * content hash of (epoch, doc_id), partitioned into [[ShuffleShards]]
    * shards with a per-shard position. Changing the epoch seed permutes the
    * whole corpus; the same epoch always reproduces the same order on any
    * engine, cluster size, or rerun — `shuffle()`/`rand()` can do neither.
    *
    * Scale: one shuffle on the shard key, then a per-shard local sort — the
    * exact cost of materializing an epoch. Production sizes shards so each
    * sorts in memory (100 TB / 2 GB ⇒ ~50 k shards; the fixture uses 8)
    * and writes `sortWithinPartitions(h)` shard files, skipping the global
    * per-shard `pos` when consumers only need the order, not the index. */
  def seededShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    seededShuffleRows(
        Tables.documents(spark, dir).select($"doc_id"), ShuffleEpoch,
        shuffleShards(Tables.nDocs(spark, dir)))
      .select($"shard", $"pos", $"doc_id")
      .orderBy($"shard", $"pos")
  }

  /** Curriculum ordering: documents banded into quality quartiles (band 1 =
    * top quartile — served first in an easy-to-hard curriculum schedule),
    * deterministically shuffled WITHIN each band by the [[seededShuffleRows]]
    * content-hash scheme. The training loader reads (band, shard, pos)
    * ascending: quality-ordered across bands, reproducibly random inside.
    *
    * Banding is threshold-broadcast, not rank-based: the three quartile
    * boundaries come from ONE exact-percentile aggregate (6dp-rounded — the
    * `q19_percentile` cross-engine convention; at 100 TB swap in
    * approx_percentile, same one-row broadcast) and band assignment is a
    * pure projection against the broadcast row. A global `ntile` window
    * would order the whole corpus through a single partition — the exact
    * single-reducer trap the seeded shuffle's sharding exists to avoid.
    * Within-band positions reuse the sharded per-partition sort, so no
    * partition ever sorts more than one band-shard (~N/32 fixture rows,
    * shard-count-sized in production). */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    curriculumBanded(
        Tables.documents(spark, dir).select($"doc_id", $"text"),
        curriculumThresholds(spark, dir),
        shuffleShards(Tables.nDocs(spark, dir)))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"band", $"shard").orderBy($"h".asc, $"doc_id".asc)))
      .select($"doc_id", $"band", $"shard", $"pos")
      .orderBy($"band", $"shard", $"pos")
  }

  /** The trained curriculum policy: one row of 6dp quartile boundaries over
    * the corpus quality distribution (exact percentile at fixture scale,
    * approx_percentile at 100 TB — same one-row shape either way). */
  def curriculumThresholds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.qualityRows(Tables.documents(spark, dir)).agg(
      round(percentile($"quality", lit(0.75)), 6).as("t1"),
      round(percentile($"quality", lit(0.5)), 6).as("t2"),
      round(percentile($"quality", lit(0.25)), 6).as("t3"))
  }

  /** Apply a trained curriculum policy to any (…, doc_id, text) relation:
    * band + shard assignment as a stateless projection against the
    * broadcast threshold row, so the same call classifies an ingest STREAM
    * (the [[mixtureRows]] batch-trained/stream-applied convention;
    * `StreamProjectionSpec` pins agreement). The global per-(band, shard)
    * `pos` stays batch-only — a global index is meaningless mid-stream;
    * streamed docs carry their (band, shard) placement and the batch
    * re-pack assigns positions when the epoch materializes. */
  def curriculumRows(rows: DataFrame, thresholds: DataFrame): DataFrame = {
    val cols = rows.columns.map(col).toIndexedSeq
    curriculumBanded(rows, thresholds)
      .select(cols :+ col("band") :+ col("shard"): _*)
  }

  /** Banded docs WITH the content hash still attached — [[curriculum]]
    * orders by it, [[curriculumRows]] drops it. One hash evaluation. */
  private def curriculumBanded(rows: DataFrame, thresholds: DataFrame,
      shards: Long = ShuffleShards.toLong): DataFrame =
    withHashShard(
      TextAnalysis.withQuality(rows)
        .join(broadcast(thresholds), lit(true))
        .withColumn("band",
          when(col("quality") >= col("t1"), 1).when(col("quality") >= col("t2"), 2)
            .when(col("quality") >= col("t3"), 3).otherwise(4)),
      "cur1|", shards)

  /** The salted content-hash + shard assignment shared by the epoch
    * shuffle and the curriculum (ONE definition of the ordering scheme:
    * h = hash60(salt ∥ doc_id), shard = h mod [[ShuffleShards]] — a change
    * here must land in the q_shuffle_seeded AND pipeline_curriculum
    * oracles together). */
  private[graft] def withHashShard(rows: DataFrame, salt: String,
      shards: Long = ShuffleShards.toLong): DataFrame =
    rows.withColumn("h", hash60(concat(lit(salt), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("h"), lit(shards)).cast("int"))

  /** The reusable epoch-shuffle core over any (…, doc_id) relation. The
    * `shards` default serves the STREAM twins (an arriving micro-batch
    * cannot count the corpus; the trained/static policy carries the shard
    * count in production, and every fixture derives the floor anyway). */
  def seededShuffleRows(rows: DataFrame, epoch: Int,
      shards: Long = ShuffleShards.toLong): DataFrame =
    withHashShard(rows, s"ep$epoch|", shards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)))
      .drop("h")

  /** Reproducible train/val/test split: each document's bucket is the
    * content hash of its id modulo 100 — <80 train, <90 val, else test.
    * A pure projection (no shuffle, no sampling state): the same document
    * lands in the same split on any engine, cluster size, or rerun, and
    * adding documents never moves existing ones between splits — the
    * properties that make hash-splitting the standard over random splits
    * for corpus versioning. */
  def trainValTestSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .withColumn("bucket", pmod(graft.functions.Text.hash60($"doc_id".cast("string")), lit(100L)))
      .select($"doc_id", $"lang",
        when($"bucket" < 80, "train")
          .when($"bucket" < 90, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** Leakage-safe split: the same 80/10/10 hash split, but the UNIT is the
    * near-duplicate CLUSTER, not the document — every member of a minhash
    * connected component takes the split of the component's representative
    * (its minimum doc_id), so near-duplicates can never straddle train and
    * test. That straddle is the contamination a doc-level hash split
    * leaves open: a template drifted by one edit lands in train while its
    * twin scores the eval set, and the eval overstates generalization.
    * Unclustered docs are singleton clusters (their own representative),
    * so the split remains a pure content-hash function — adding documents
    * never moves existing ones unless new edges genuinely merge clusters.
    *
    * Scale: the cluster labels are the SAME [[Dedup.clusters]] components
    * the dedup serving path maintains (at 100 TB: read the persisted
    * index, don't recompute); the overlay is one equi-join on doc_id
    * against a labels side sized by |near-dup docs| ≪ |corpus|, then a
    * per-row hash projection — no new shuffle class, no sort of the
    * corpus (the trailing orderBy is fixture presentation). */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = Dedup.clusters(spark, dir)
      .select($"doc_id", $"cluster_rep")
    splitByRep(Tables.documents(spark, dir).select($"doc_id"), labels)
  }

  /** [[clusterSafeSplit]] over a LAKE's visible set — the corpus a
    * release actually ships, with LWW updates, takedowns, and
    * re-admissions folded. Clusters come from the visible TEXTS
    * ([[Dedup.clustersOf]]): an update that rewrites a document enough
    * to leave (or join) a near-dup cluster moves it to (or from) its
    * own hash split, exactly as a from-scratch assignment would — and
    * deleted docs vanish from the assignment entirely. Same posture as
    * the fixture-table split: one labels join sized by the near-dup
    * docs plus a per-row hash projection. */
  def clusterSafeSplitLake(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    splitByRep(lakeVisible(spark, dir).select($"doc_id"),
      lakeClusters(spark, dir))
  }

  /** The delete-lifecycle lake's visible (doc_id, text) set — the shared
    * input of the lake-split family. */
  private def lakeVisible(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lake = graft.operators.CorpusLake.deleteLake(spark, dir)
    graft.operators.CorpusLake.readCorpusAt(spark, dir, lake)
      .select($"doc_id", $"text")
  }

  /** Converged cluster labels of the lake head, memoized per (session,
    * dir) — the iterative star-contraction carries fresh localCheckpoint
    * lineage per call, so plan-equality caching can never reuse it across
    * the split/shard queries that compose it (the same reason
    * [[Dedup.clusters]] memoizes its converged labels). */
  private def lakeClusters(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Caches.memoized(spark, s"lake-clusters|$dir") {
      Dedup.clustersOf(spark, lakeVisible(spark, dir))
    }

  /** The export a training run actually pulls: the deterministic
    * run-shard manifest ([[CorpusLake.shardManifest]] — per-shard doc/
    * token/char totals + order-independent XOR checksums) of the TRAIN
    * split only, over the lake's visible set, with the split keyed by
    * near-dup cluster representative so no eval near-duplicate can ship
    * in a train shard. Pure composition of audited pieces: visible set →
    * cluster labels → rep-hash split filter → shard aggregate; the
    * filter is a per-row projection, so the export cost stays the shard
    * aggregate's one shuffle. */
  def trainShardManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val visible = lakeVisible(spark, dir)
    val train = visible
      .join(lakeClusters(spark, dir), Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"cluster_rep", $"doc_id"))
      .filter(pmod(hash60($"rep".cast("string")), lit(100L)) < 80)
      .select($"doc_id", $"text")
    graft.operators.CorpusLake.shardManifest(train, 8).orderBy($"shard")
  }

  /** The FULL delivery manifest: per-(split, shard) doc/token/char totals
    * and XOR checksums over the lake's visible set — [[trainShardManifest]]
    * widened so the val and test shards are integrity-verifiable at the
    * consumer too (an eval job has the same lost/corrupt/duplicate
    * failure modes as a training job). One aggregate keyed by
    * (split, shard); the split stays a per-row projection. */
  def splitShardManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val visible = lakeVisible(spark, dir)
    // shard assignment and the per-(split, shard) totals/checksum both
    // DELEGATE to CorpusLake's one delivery-integrity convention
    // (shardOf/shardAggs) — the run-shard manifest a consumer verifies
    // against and this split-widened one must agree by construction
    val assigned = visible
      .join(lakeClusters(spark, dir), Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"cluster_rep", $"doc_id"))
      .withColumn("b", pmod(hash60($"rep".cast("string")), lit(100L)))
      .select($"doc_id", $"text",
        when($"b" < 80, "train").when($"b" < 90, "val")
          .otherwise("test").as("split"),
        graft.operators.CorpusLake.shardOf(8).as("shard"))
    graft.operators.CorpusLake.shardAggs(assigned, Seq("split"))
      .orderBy($"split", $"shard")
  }

  private def splitByRep(ids: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, pmod, when}
    ids.join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("bucket", pmod(hash60(col("rep").cast("string")), lit(100L)))
      .select(col("doc_id"), col("rep").as("cluster_rep"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }
}
