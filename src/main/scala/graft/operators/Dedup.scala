package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.Text._
import graft.storage.{Artifact, DeltaStore}

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  * (Embedding-cosine near-dup lives in [[Similarity]] with the vector ops.)
  *
  * Scale design notes (the 100 TB posture, per operator):
  *  - exact: one hash-partitioned groupBy on the dedup key — the minimal
  *    possible shuffle; at scale the key would be a content digest computed
  *    at ingest so the shuffle payload is the digest, not the document.
  *  - MinHash: signatures are computed per-row with pure array expressions —
  *    NO shuffle, no explode of shingles through an exchange. The only
  *    shuffles are (a) the band-bucket self-join on (band, signature) and
  *    (b) candidate-pair verification, both of which move candidate rows
  *    only (LSH keeps candidates ~linear in the number of true near-dups).
  *  - SimHash: same shape — per-row signature, then a banded self-join on
  *    16-bit signature halves; hamming verification on the pairs.
  *  - n-gram Jaccard: exact df-ordered prefix filtering — candidates are a
  *    postings equi-join on each document's rarest ~20 % of grams (the
  *    prefix-overlap lemma makes this exhaustive for J ≥ τ), so every
  *    shuffle is linear in corpus size. See SCALING.md for measurements.
  */
object Dedup {

  /** Exact dedup by key columns: hash-groupBy keeping the smallest doc_id as
    * the surviving representative plus the duplicate cardinality. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"lang", $"source")
      .agg(min($"doc_id").as("representative"), count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"source")
  }

  // ---------------------------------------------------------------- MinHash

  val MinhashPerms = 16   // H
  val MinhashBands = 4    // B bands of R = H/B rows
  val MinhashRows  = MinhashPerms / MinhashBands
  val JaccardThreshold = 0.8

  /** Large prime > 2^32 for the double-hash permutation family. */
  val MinhashPrime = 4294967311L

  /** Docs with word-3-gram hashes + MinHash signature + LSH band keys.
    *
    * Hashing: ONE md5 per shingle yields two independent 32-bit values
    * (h1 = hex[1..8], h2 = hex[9..16]); permutation i is h_i = (h1 + i·h2)
    * mod p — the standard 2-universal construction. Shingling + hashing +
    * the signature loop are fused in the native codegen'd
    * [[graft.functions.MinhashFromTokens]] kernel, and the verification gram
    * set is the sorted distinct hash60s from
    * [[graft.functions.WordGramHashes]] — no shingle string is materialized
    * (the oracle SQL carries the equivalent list-comprehension form). */
  private[graft] def signed(spark: SparkSession, dir: String): DataFrame =
    signRows(Tables.spread(Tables.documents(spark, dir)))

  /** Per-row shingle→minhash→band signing of any (doc_id, text) relation —
    * a pure projection, so it applies identically to the batch corpus and
    * to an arriving micro-batch in [[nearDupStream]]. */
  private[graft] def signRows(rows: DataFrame): DataFrame =
    rows
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.WordGramHashes(col("toks"), 3).as("grams"),
        graft.functions.MinhashFromTokens(
          col("toks"), 3, MinhashPerms, MinhashPrime).as("sig"))
      // the band key is hash60 of the minhash-row string: an 8-byte long
      // through the bucket-join shuffle instead of a ~30-byte string. Equal
      // rows always hash equal (no recall change), and a 2^-60 spurious
      // collision only adds a candidate the exact-Jaccard verify removes —
      // so the oracle's string-keyed banding stays output-identical
      .withColumn("bands", transform(sequence(lit(0), lit(MinhashBands - 1)),
        b => struct(b.as("band"),
          graft.functions.Text.hash60(
            concat_ws(",", transform(slice(col("sig"), b * MinhashRows + 1, lit(MinhashRows)),
              x => x.cast("string")))).as("key"))))

  /** MinHash+LSH near-duplicate pairs: shingle → minhash → band → bucket
    * self-join → exact-Jaccard verification ≥ 0.8. Output (id_a < id_b,
    * exact jaccard as int/int division — engine-exact). Verification runs
    * over the sorted distinct gram hashes (merge-walk intersection,
    * |A∪B| = |A|+|B|−|A∩B|), which equals the oracle's string-set Jaccard
    * exactly absent 60-bit collisions. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashVerified(spark, dir).orderBy($"id_a", $"id_b")
  }

  /** Verified near-dup pairs, unsorted — [[clusters]] consumes this directly
    * so the graph build doesn't pay minhashLsh's presentation sort. */
  /** Distinct LSH bucket-collision pairs BEFORE Jaccard verification — the
    * quantity whose growth rate decides whether the scheme scales (tracked
    * per scale factor by [[graft.ScaleProbe]] into SCALING.md). */
  private[graft] def minhashCandidates(spark: SparkSession, dir: String): DataFrame =
    candidatesOf(graft.sources.Caches.shared(signed(spark, dir)))

  /** THE LSH band-bucket candidate join over a SIGNED relation — distinct
    * (id_a < id_b) bucket-collision pairs. One definition: the fixture
    * scale probe ([[minhashCandidates]]) and the verification pipeline
    * ([[verifiedOf]], which the lake's [[clustersOf]] composes) must
    * generate candidates identically or the banding convention drifts
    * between the dedup paths. */
  private[graft] def candidatesOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val buckets = docs.select($"doc_id", explode($"bands").as("b"))
      .select($"doc_id", $"b.band", $"b.key")
    buckets.as("x").join(buckets.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
      .distinct()
  }

  private def minhashVerified(spark: SparkSession, dir: String): DataFrame =
    // signatures are md5-heavy: materialize once, reuse for buckets + verify
    verifiedOf(spark, graft.sources.Caches.shared(signed(spark, dir)))

  /** LSH-banded candidates + exact-Jaccard verification of any SIGNED
    * (doc_id, grams, bands) relation — [[minhashVerified]] for the fixture
    * table, reusable over a lake's visible set (whose LWW-updated texts
    * the fixture table cannot represent). Callers pass an already-cached
    * frame: signing is the expensive projection. */
  private[graft] def verifiedOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val candidates = candidatesOf(docs)
    val a = docs.select($"doc_id".as("id_a"), $"grams".as("gr_a"), size($"grams").as("na"))
    val b = docs.select($"doc_id".as("id_b"), $"grams".as("gr_b"), size($"grams").as("nb"))
    val inter = graft.functions.IntersectCardinality($"gr_a", $"gr_b")
    candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard",
        inter.cast("double") / (($"na" + $"nb") - inter).cast("double"))
      .filter($"jaccard" >= JaccardThreshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** Near-duplicate cluster labels of ANY (doc_id, text) relation — the
    * [[clusters]] pipeline unbound from the fixture table, for lake
    * visible sets. Same banding, verification, and min-id star-contraction
    * components; docs in no cluster are absent (callers coalesce to the
    * singleton convention). */
  def clustersOf(spark: SparkSession, rows: DataFrame): DataFrame = {
    import spark.implicits._
    val docs = graft.sources.Caches.shared(signRows(rows))
    connectedComponents(verifiedOf(spark, docs).select($"id_a", $"id_b"))
      ._1.select($"doc_id", $"label".as("cluster_rep"))
  }

  /** The static corpus side for [[nearDupStream]]: every corpus document's
    * LSH band keys with its gram set riding along for verification —
    * (band, key, corpus_id, corpus_grams, nb). */
  def minhashCorpusBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    signed(spark, dir)
      .select($"doc_id".as("corpus_id"), $"grams".as("corpus_grams"),
        size($"grams").as("nb"), explode($"bands").as("b"))
      .select($"b.band", $"b.key", $"corpus_id", $"corpus_grams", $"nb")
  }

  /** Streaming near-dup detection at ingest: each arriving (doc_id, text)
    * micro-batch is minhash-signed PER ROW (pure projection — no stream
    * state), its band keys stream-static joined against the corpus bucket
    * table, and bucket collisions are verified with the exact gram-set
    * Jaccard before flagging. Multi-band matches of the same pair collapse
    * in an update-mode (doc_id, corpus_id) aggregation, mirroring the
    * DISTINCT of the batch twin [[minhashLsh]].
    *
    * Scale posture: the demo broadcasts the bucket table like
    * [[contaminationStream]]; at corpus scale the same plan runs as a
    * stream-static SHUFFLE join on (band, key) against a bucketed corpus
    * table, with only the arriving batch's band keys moving. */
  def nearDupStream(docStream: DataFrame, corpusBuckets: DataFrame): DataFrame = {
    val s = signRows(docStream)
      .select(col("doc_id"), col("grams"), size(col("grams")).as("na"),
        explode(col("bands")).as("b"))
      .select(col("doc_id"), col("grams"), col("na"), col("b.band"), col("b.key"))
    val inter = graft.functions.IntersectCardinality(col("grams"), col("corpus_grams"))
    s.join(broadcast(corpusBuckets), Seq("band", "key"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .withColumn("jaccard",
        inter.cast("double") / ((col("na") + col("nb")) - inter).cast("double"))
      .filter(col("jaccard") >= JaccardThreshold)
      .groupBy(col("doc_id"), col("corpus_id"))
      .agg(max(col("jaccard")).as("jaccard"))
  }

  /** (doc_id, sim, part, key): a signature frame exploded to its Manku
    * band keys — THE banding scheme (simhash text near-dup, both media
    * fingerprint variants, and the media serving bucket table all split
    * signatures through this one definition). */
  private[graft] def sigBandParts(sigs: DataFrame, nBands: Int,
      bandBits: Int): DataFrame = {
    import sigs.sparkSession.implicits._
    val mask = (1L << bandBits) - 1
    sigs.select($"doc_id", $"sim",
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("part"),
            shiftright($"sim", b * bandBits).bitwiseAND(lit(mask)).as("key"))): _*)).as("p"))
      .select($"doc_id", $"sim", $"p.part", $"p.key")
  }

  /** Fixture-floored knobs (bloom m, the IVF stride, the role-carving
    * strides below) are hard-coded at their FLOOR as literals in the DuckDB
    * oracle twins (m = 65536, `% 200`, `% 50`, …). Above the derivation
    * knee the operator is still correct — production has no oracle — but a
    * driver-style comparison would hash-diverge with no obvious cause, so
    * leaving the floor is announced loudly here instead of discovered as a
    * confusing mismatch. Returns `derived` unchanged. */
  private[graft] def warnIfPastOracleFloor(knob: String, derived: Long, floor: Long): Long = {
    if (derived != floor)
      System.err.println(s"[graft] $knob derived to $derived — oracle twins pin " +
        s"the floor $floor as a literal and would hash-diverge at this scale")
    derived
  }

  val IncrementalStride = 10

  /** Arriving-batch stride, derived from corpus size with the fixture-
    * floored pattern of [[bloomBits]] / `TextAnalysis.bm25DfCap`: the
    * fixture carves every stride-th document as the "new crawl" batch, and
    * a CONSTANT stride means that batch grows linearly with the corpus —
    * but a production increment is bounded by ingest cadence, not corpus
    * size, and the operator's whole cost claim is "∝ batch, not corpus".
    * max(10, n/4096) saturates the carved batch at ≈ 4096 docs; the floor
    * holds at every fixture scale (500/5 000 docs, and the 40k probe point
    * sits just under the n = 40 960 knee), keeping the oracle's
    * `doc_id % 10` literal bit-identical. */
  private[graft] def incrementalStride(nDocs: Long): Long =
    warnIfPastOracleFloor("incremental-dedup batch stride",
      math.max(IncrementalStride, nDocs / 4096), IncrementalStride)

  // ------------- persisted dedup index (LSH buckets as an artifact)

  /** Flatten a signed relation to its (doc_id, band, key) bucket rows —
    * the corpus-side LSH index in its storable form. */
  private[graft] def bucketRows(s: DataFrame): DataFrame =
    s.select(col("doc_id"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))

  /** Persist the corpus-side MinHash-LSH index — the (doc_id, band, key)
    * bucket table — as parquet (the
    * [[graft.operators.Similarity.saveIndex]] convention for dedup). At
    * 100 TB "dedup the new crawl against everything we already have" is
    * THE steady-state dedup query, and re-signing the historical corpus
    * per crawl is its scale-killer: the bucket table is built once as a
    * batch job, outlives the session, and each crawl joins only its own
    * band keys against it ([[dedupArrivalsFromSaved]]). MinHash has no
    * trained state, so unlike the PQ index there is nothing to pin and
    * nothing to drift — appends are exact by construction and a retrain
    * is never needed. */
  def saveDedupIndex(spark: SparkSession, dir: String, indexDir: String): Unit =
    bucketRows(signed(spark, dir))
      .write.mode("overwrite").parquet(s"$indexDir/buckets")

  /** Ingest-time dedup-index maintenance: arriving (doc_id, text) rows
    * sign per micro-batch (pure projection) and their bucket rows append,
    * epoch-stamped — [[readDedupDelta]]/[[compactDedupIndex]] give the
    * same replay-safe deterministic-upsert read and fold-into-base
    * lifecycle as the retrieval legs. */
  def appendDedupIndexStream(docStream: DataFrame, spark: SparkSession,
      storeDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    docStream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        DeltaStore.append(bucketRows(signRows(batch)), storeDir, epoch)
      }
  }

  /** Replay-safe read of the appended bucket rows: each document's whole
    * bucket set at its newest epoch ([[DeltaStore.latestDocs]] on
    * (doc_id, band)).
    * `committed` restricts the read to epochs present in the given
    * one-column `epoch` frame — the corpus lake passes its manifest here
    * so a crashed (manifest-less) epoch's bucket rows never serve: without
    * the filter a replayed admission batch would find its own crashed
    * appends on the index side and flip its verdicts. */
  def readDedupDelta(spark: SparkSession, storeDir: String,
      committed: Option[DataFrame] = None): DataFrame =
    readDedupDeltaCapped(spark, Seq(storeDir -> None), committed)

  /** Multi-store variant with per-store epoch CAPS — the branch-ingest
    * reader: a branch dedups against its ancestors' bucket stores, but an
    * ancestor's rows are shared history only up to the branch point, and
    * epoch numbers past it can NUMERICALLY collide with the branch's own
    * (both allocate past the base), so the cap must apply per store
    * BEFORE the cross-store latest-epoch resolution. Rows from all
    * stores then resolve doc-level latest-wins together (a branch
    * re-upload outranks the ancestor's rows — branch epochs are > base
    * by allocation). */
  def readDedupDeltaCapped(spark: SparkSession,
      stores: Seq[(String, Option[Long])],
      committed: Option[DataFrame] = None): DataFrame = {
    val raws = stores.map { case (storeDir, cap) =>
      val raw = DeltaStore.read(spark, storeDir)
      cap.fold(raw)(c => raw.filter(col("epoch") <= c))
    }
    val raw0 = raws.reduce(_.unionByName(_, allowMissingColumns = true))
    DeltaStore.latestDocs(committed.fold(raw0)(c =>
      raw0.join(c.select(col("epoch")), Seq("epoch"), "left_semi")),
      "doc_id", "band")
  }

  /** Fold the appended bucket rows into the persisted base index
    * ([[DeltaStore.fold]], which states the crash order; the doc-level
    * merge in [[dedupArrivalsFromSaved]] serves the overlap a crash
    * between publish and truncate leaves).
    * With `committed` (the lake's manifest), ONLY committed epochs fold
    * and the truncate keeps the uncommitted rows in place — folding a
    * crashed manifest-less epoch into the base would make its dead rows
    * committed-looking forever, poisoning every later admission verdict
    * against them.
    *
    * `retract`: doc_ids whose bucket rows should be DROPPED from the
    * merged base during the fold — the lake passes its currently-deleted
    * id set ([[graft.operators.CorpusLake.deleteDocs]] tombstones) so a
    * taken-down doc's stale bucket rows stop accumulating in the index.
    * Pure cost hygiene, not a semantics change: a stale bucket row only
    * ever generated candidates the exact verify already rejected (the
    * tombstone's latest-wins text is null), so admission verdicts are
    * identical before and after the GC — cheaper, not different. */
  def compactDedupIndex(spark: SparkSession, indexDir: String,
      storeDir: String, committed: Option[DataFrame] = None,
      retract: Option[DataFrame] = None): Unit =
    DeltaStore.fold(spark, storeDir, indexDir, "buckets", "doc_id",
        committed)(readDedupDelta(spark, storeDir, committed)) { merged =>
      retract.fold(merged)(ids =>
        merged.join(ids.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    }

  /** The dedup-index maintenance loop as ONE ingest stream — the
    * [[graft.operators.Similarity.maintainIndexStream]] pattern on the
    * bucket table: per micro-batch the arriving documents' bucket rows
    * append epoch-stamped to `maintDir/buckets` AND their raw (doc_id,
    * text) rows to `maintDir/docs` — the doc-lake partition the exact
    * verify reads for ingested candidates ([[readDocsDelta]]; without it
    * a later collision with a loop-ingested doc would be silently dropped
    * at the verify's lake lookup). At the delta-fraction threshold
    * [[compactDedupIndex]] folds the buckets into the base
    * ([[DeltaStore.Trigger]]). No advisory
    * and no retrain: MinHash is untrained, so an appended row is exact
    * forever — compaction here is purely a read-amplification fold. */
  def maintainDedupIndexStream(docStream: DataFrame, spark: SparkSession,
      indexDir: String, maintDir: String,
      compactAt: Double = 0.25): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val trigger = new DeltaStore.Trigger(spark, compactAt,
      s"$indexDir/buckets", s"$maintDir/buckets")
    docStream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val buckets = bucketRows(signRows(batch))
        val n = buckets.count()
        DeltaStore.append(buckets, s"$maintDir/buckets", epoch)
        DeltaStore.append(batch.select(col("doc_id"), col("text")),
          s"$maintDir/docs", epoch)
        trigger.afterAppend(n) {
          compactDedupIndex(spark, indexDir, s"$maintDir/buckets")
          // the doc-lake partition is append-forever (the verify's text
          // lookup needs it for every ingested doc) — coalesce its
          // per-batch file sets on the same cadence, sorted by doc_id so
          // footer stats serve the candidate semi-join; this foreachBatch
          // slot is the quiescence the wholesale rewrite assumes
          DeltaStore.coalesceStore(spark, s"$maintDir/docs",
            Seq("doc_id", "epoch"), Seq("doc_id", "epoch"))
        }
      }
  }

  /** Replay-safe doc-level latest-wins read of the appended documents'
    * lake partition ((doc_id, text, epoch) rows; [[DeltaStore.latest]] on
    * doc_id). */
  def readDocsDelta(spark: SparkSession, docsDir: String): DataFrame =
    DeltaStore.latest(spark, docsDir, "doc_id")

  /** Dedup an arriving (doc_id, text) batch against the PERSISTED corpus
    * index, optionally ∪ an appended delta store: the arriving side signs
    * per-row and joins ONLY its own band keys against the bucket table —
    * cost ∝ batch size, never corpus size — and the exact-Jaccard verify
    * re-shingles CANDIDATE documents only (a semi-join-bounded lookup
    * into the doc lake; `deltaDocs` is the appended documents' lake
    * partition for candidates that are not in the base corpus —
    * LWW-resolved (doc_id, text), or raw epoch-stamped rows which are
    * then candidate-pruned BEFORE the latest-wins window so the per-batch
    * cost is the candidates' history, never the whole store).
    * `committedEpochs` restricts the delta-store side to committed epochs
    * ([[readDedupDelta]]'s replay argument). Output rows are unordered —
    * the serving path feeds aggregations; [[dedupIndexServe]] sorts for
    * the oracle. */
  def dedupArrivalsFromSaved(spark: SparkSession, dir: String,
      arrivals: DataFrame, indexDir: String,
      storeDir: Option[String] = None,
      deltaDocs: Option[DataFrame] = None,
      committedEpochs: Option[DataFrame] = None,
      sharedStores: Seq[(String, Option[Long])] = Nil): DataFrame = {
    val base = spark.read.parquet(
      Artifact.resolve(spark, indexDir, "buckets"))
    // an ancestor that never ingested has no bucket store yet — nothing
    // to dedup against there, not an error
    val stores = (storeDir.map(_ -> (None: Option[Long])).toSeq ++
      sharedStores).filter { case (s, _) =>
        Artifact.find(spark, s).isDefined }
    val idx =
      if (stores.isEmpty) base
      else DeltaStore.overlay(base,
        readDedupDeltaCapped(spark, stores, committedEpochs), "doc_id")
    dedupAgainstIndex(spark, dir, arrivals, idx, deltaDocs)
  }

  /** The serving core over an EXPLICIT bucket-index frame. */
  private def dedupAgainstIndex(spark: SparkSession, dir: String,
      arrivals: DataFrame, idx: DataFrame,
      deltaDocs: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val a = signRows(arrivals)
    val ab = bucketRows(a).withColumnRenamed("doc_id", "arriving_id")
    val cand = ab.join(idx.withColumnRenamed("doc_id", "existing_id"),
        Seq("band", "key"))
      .filter($"arriving_id" =!= $"existing_id")
      .select($"arriving_id", $"existing_id").distinct()
    val candIds = cand.select($"existing_id".as("doc_id")).distinct()
    val ag = a.select($"doc_id".as("arriving_id"), $"grams".as("gr_a"),
      size($"grams").as("na"))
    // raw epoch-stamped delta docs prune to the candidates FIRST, then
    // latest-epoch-wins — the window runs over the candidates' history
    // rows only, not the whole appended store per batch
    val resolvedDelta = deltaDocs.map { d =>
      if (!d.columns.contains("epoch")) d.select($"doc_id", $"text")
      else graft.operators.Ingest.latestPerKey(
          d.join(candIds, Seq("doc_id"), "left_semi"), "doc_id", $"epoch")
        .select($"doc_id", $"text")
    }
    val lakeDocs = resolvedDelta.fold(Tables.spread(Tables.documents(spark, dir))) { d =>
      Tables.spread(Tables.documents(spark, dir))
        .join(d.select($"doc_id").distinct(), Seq("doc_id"), "left_anti")
        .unionByName(d.select($"doc_id", $"text"), allowMissingColumns = true)
    }
    val eg = lakeDocs
      .join(candIds, Seq("doc_id"), "left_semi")
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id".as("existing_id"),
        graft.functions.WordGramHashes($"toks", 3).as("gr_b"))
      .withColumn("nb", size($"gr_b"))
    verifyJaccard(cand, ag, eg)
  }

  /** The exact-Jaccard verification stage over explicit gram frames:
    * `cand` (arriving_id, existing_id), `ag` (arriving_id, gr_a, na),
    * `eg` (existing_id, gr_b, nb) in; verified
    * (arriving_id, existing_id, jaccard ≥ [[JaccardThreshold]]) pairs out.
    * One source of truth for every index-serving dedup caller
    * ([[dedupArrivalsFromSaved]], the corpus lake's intra-batch leg). */
  private[graft] def verifyJaccard(cand: DataFrame, ag: DataFrame,
      eg: DataFrame): DataFrame = {
    val inter = graft.functions.IntersectCardinality(col("gr_a"), col("gr_b"))
    cand.join(ag, "arriving_id").join(eg, "existing_id")
      .withColumn("jaccard",
        inter.cast("double") / ((col("na") + col("nb")) - inter).cast("double"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("arriving_id"), col("existing_id"), col("jaccard"))
  }

  /** Bucket-collision candidate pairs of [[dedupIndexServe]] BEFORE the
    * exact verify — the volume [[graft.ScaleProbe]] tracks (∝ arriving
    * batch × collision rate; also bounds the lake lookups the verify
    * pays). */
  private[graft] def dedupIndexServeCandidates(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val stride = incrementalStride(Tables.nDocs(spark, dir))
    val a = signRows(Tables.spread(Tables.documents(spark, dir))
      .filter($"doc_id" % stride === 0).select($"doc_id", $"text"))
    bucketRows(a).withColumnRenamed("doc_id", "arriving_id")
      .join(bucketRows(signed(spark, dir))
        .withColumnRenamed("doc_id", "existing_id"), Seq("band", "key"))
      .filter($"arriving_id" =!= $"existing_id")
      .select($"arriving_id", $"existing_id").distinct()
  }

  /** The deterministic BATCH twin of index-serving dedup, as its own
    * oracled query: the stride-arrival slice served against the FULL
    * in-session bucket index — the plan is row-identical to what
    * [[saveDedupIndex]] persists (`IndexMaintenanceSpec` pins the
    * saved-artifact parity), so the oracle hash-checks the serve path
    * end-to-end.
    * Differs from [[incremental]] exactly in the index side: the index
    * holds EVERY corpus document (arrivals included, as a persisted index
    * would), so arriving-vs-arriving pairs surface too; only self-pairs
    * are excluded. */
  def dedupIndexServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stride = incrementalStride(Tables.nDocs(spark, dir))
    val arrivals = Tables.spread(Tables.documents(spark, dir))
      .filter($"doc_id" % stride === 0)
      .select($"doc_id", $"text")
    dedupAgainstIndex(spark, dir, arrivals,
        bucketRows(signed(spark, dir)), None)
      .orderBy($"arriving_id", $"existing_id")
  }

  /** Incremental dedup — the BATCH twin of [[nearDupStream]], oracled: a
    * batch of "arriving" documents (every [[incrementalStride]]-th doc
    * stands in for the new crawl snapshot) is checked against the "existing"
    * corpus (the rest) for near-duplicates, WITHOUT re-pairing the existing
    * corpus against itself. This is the steady-state shape of production
    * dedup: the corpus index (band buckets) is maintained once; each new
    * batch only joins its own band keys against it — cost ∝ batch size, not
    * corpus size. The banding and verification are exactly [[minhashLsh]]'s
    * (signatures computed per-row, bucket equi-join, exact-Jaccard verify);
    * the oracle mirrors the banding so recall is identical by construction,
    * and pair multiplicity from multi-band collisions collapses in the same
    * DISTINCT. Output: (arriving_id, existing_id, jaccard ≥ 0.8). */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stride = incrementalStride(Tables.nDocs(spark, dir))
    val docs = graft.sources.Caches.shared(signed(spark, dir))
    def buckets(pred: Column => Column, idName: String) = docs
      .filter(pred($"doc_id" % stride))
      .select($"doc_id".as(idName), explode($"bands").as("b"))
      .select(col(idName), $"b.band", $"b.key")
    // candidate ids only through the bucket join + distinct; the gram
    // arrays join back per verified candidate (minhashVerified's shape)
    val cand = buckets(_ === 0, "arriving_id")
      .join(buckets(_ =!= 0, "existing_id"), Seq("band", "key"))
      .select($"arriving_id", $"existing_id")
      .distinct()
    val a = docs.select($"doc_id".as("arriving_id"), $"grams".as("gr_a"),
      size($"grams").as("na"))
    val b = docs.select($"doc_id".as("existing_id"), $"grams".as("gr_b"),
      size($"grams").as("nb"))
    val inter = graft.functions.IntersectCardinality($"gr_a", $"gr_b")
    cand.join(a, "arriving_id").join(b, "existing_id")
      .withColumn("jaccard",
        inter.cast("double") / (($"na" + $"nb") - inter).cast("double"))
      .filter($"jaccard" >= JaccardThreshold)
      .select($"arriving_id", $"existing_id", $"jaccard")
      .orderBy($"arriving_id", $"existing_id")
  }

  /** Near-duplicate CLUSTERS: connected components over the MinHash pair
    * graph, labeling every clustered doc with its component's minimum doc_id
    * (the survivor). Iterative min-label propagation to fixpoint — the graph
    * is the PAIR graph (sparse: ~|true near-dups|), not the corpus, and
    * near-dup components are shallow (pairs/triples), so iterations ≈
    * component diameter ≈ 2-4. At 100 TB the same loop is the standard
    * large-star/small-star connected-components; each iteration is one
    * shuffle on doc_id. Lineage is cut per iteration (localCheckpoint). */
  def clusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the iterative loop below re-built per call would carry fresh
    // localCheckpoint lineage, so plan-equality caching can never reuse it
    // across the queries that compose it (curate, prepare) — memoize the
    // converged labels handle instead; the trailing orderBy stays
    // per-call presentation
    graft.sources.Caches.memoized(spark, s"clusters|$dir") {
      clustersConverged(spark, dir)
    }.orderBy($"doc_id")
  }

  private def clustersConverged(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = graft.sources.Caches.shared(
      minhashVerified(spark, dir).select($"id_a", $"id_b"))
    connectedComponents(edges)._1.select($"doc_id", $"label".as("cluster_rep"))
  }

  /** Connected components by alternating large-star / small-star (Kiveris
    * et al. 2014, "Connected Components in MapReduce and Beyond") — the
    * label of each component is its MINIMUM node id, identical to the
    * oracle's recursive transitive closure. Replaces min-label propagation:
    * propagation needs O(graph diameter) rounds, so a duplicate CHAIN
    * (templated pages drifting edit by edit — a real shape at crawl scale)
    * of length > the round cap silently got WRONG labels; star contraction
    * converges in O(log² n) rounds on ANY shape (10 rounds on a 300-node
    * path — ~log₂ halvings + 1 confirmation, `DedupSpec`; min-label needs
    * 299), so the round cap is a loud failure bound, not a
    * silent correctness cliff. Each half-round is two hash-shuffles (a min
    * aggregate keyed by node + a same-key join back — AQE plans the join
    * off the agg's partitioning) over the current edge set, which only
    * SHRINKS as stars contract; no collect_set, so a hub node's neighbor
    * list never materializes in one row. Convergence = edge fixpoint,
    * checked with an order-independent (count, Σxxhash64) fingerprint on
    * the localCheckpoint'd edge set (one metadata-cheap job per round).
    * Returns (labels: doc_id/label, rounds). */
  private[graft] def connectedComponents(edgesIn: DataFrame): (DataFrame, Int) = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    // canonical orientation (hi > lo), self-loops dropped
    val init = edgesIn.toDF("a", "b").filter($"a" =!= $"b")
      .select(greatest($"a", $"b").as("hi"), least($"a", $"b").as("lo"))
      .distinct()
    // large-star(u): every neighbor v > u rewires to min(Γ(u) ∪ {u});
    // emitted (v, m) keeps v > u ≥ m, so orientation is preserved
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select($"hi".as("u"), $"lo".as("v"))
        .union(e.select($"lo".as("u"), $"hi".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
      sym.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("hi"), least($"mn", $"u").as("lo"))
        .distinct()
    }
    // small-star(u): neighbors of u are all < u under (hi, lo) keying;
    // every neighbor (and u itself) rewires to the minimum one
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy($"hi").agg(min($"lo").as("mn"))
      e.join(mins, "hi")
        .filter($"lo" =!= $"mn")
        .select($"lo".as("hi"), $"mn".as("lo"))
        .union(mins.select($"hi", $"mn".as("lo")))
        .distinct()
    }
    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor over DISTINCT edges: order-independent and overflow-free
      // under ANSI (sum of hashes is not)
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = init.localCheckpoint()
    var fp = fingerprint(edges)
    var rounds = 0
    var converged = edges.isEmpty
    while (!converged && rounds < MaxCcRounds) {
      edges = smallStar(largeStar(edges)).localCheckpoint()
      val nfp = fingerprint(edges)
      converged = nfp == fp
      fp = nfp
      rounds += 1
    }
    require(converged, s"connectedComponents did not reach an edge fixpoint in " +
      s"$MaxCcRounds rounds — O(log² n) convergence makes this unreachable for " +
      "any real corpus; refusing to emit possibly-unmerged cluster labels")
    // fixpoint is a star forest: each child carries exactly one (child, root)
    // edge; roots label themselves
    val labels = edges.select($"hi".as("doc_id"), $"lo".as("label"))
      .union(edges.select($"lo".as("doc_id"), $"lo".as("label")))
      .distinct()
    (labels, rounds)
  }

  /** Round bound for [[connectedComponents]] — a loud-failure guard far
    * above the O(log² n) requirement (measured: 10 rounds on a 300-node
    * path, 2–3 on the fixture's near-clique clusters; pessimal theory for
    * 10¹² nodes is ~40 pairs). */
  private[graft] val MaxCcRounds = 50

  // ---------------------------------------------------------------- SimHash

  val SimhashBits = 48
  val HammingThreshold = 3

  /** Band width in bits, derived from the corpus size instead of a
    * compile-time constant (round-3 SCALING.md measured background C ≈
    * nBands·N²/2^(bandBits+1) — with a FIXED 12-bit band the background
    * collisions grow ∝ N², the one remaining 100 TB design gap the r3
    * verdict named). bandBits = ⌈log₂N⌉ − 3 holds the expected per-band
    * bucket size ≈ 8; floored at 12 so every fixture scale (≤ 32k docs)
    * derives exactly the old 4×12 = 48-bit scheme (the DuckDB oracles stay
    * bit-identical, and 48 bits keeps floor(h/2^j) exact in the oracle's
    * double arithmetic); capped at 15 because the signature spends
    * (k+1)·bandBits of the 60 hash bits each token carries. Past N ≈ 2³⁰
    * the cap binds and exact hamming-≤3 recall additionally needs Manku's
    * table-permutation generalization (more, permuted (k+1)-splits over a
    * wider multi-word signature) — the banding below stays pigeonhole-
    * complete at ANY width this function returns. Deriving costs one
    * metadata-only parquet count. */
  private[graft] def simhashBandBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(15, math.max(12, ceilLog2 - 3))
  }

  /** SimHash near-duplicate pairs: per-doc (k+1)·bandBits-bit signature
    * (native codegen'd kernel [[graft.functions.SimhashSignature]]; bit j is
    * the sign of Σ ±1 by bit j of each token's hash60), banded self-join on
    * the k+1 = 4 band slices, exact hamming verify. 48-bit signature at
    * every fixture scale ([[simhashBandBits]]). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashCandidates(spark, dir)
      .filter($"hamming" <= HammingThreshold)
      .orderBy($"id_a", $"id_b")
  }

  /** Distinct band-collision pairs with their hamming distance, BEFORE the
    * hamming threshold — the candidate volume [[graft.ScaleProbe]] tracks.
    * `forceBandBits` exists for ScaleProbe A/Bs only (measuring the derived
    * width against a forced constant); operators always derive. */
  private[graft] def simhashCandidates(spark: SparkSession, dir: String,
      forceBandBits: Option[Int] = None): DataFrame = {
    import spark.implicits._
    // Manku-style k+1 split: any pair within hamming ≤ 3 has its ≤ 3
    // differing bits spread over 4 bands, so BY PIGEONHOLE at least one
    // band matches exactly. The banding is then a pure physical
    // optimization with PROVABLY complete recall at any band width (the
    // earlier 3×16 split could miss a pair with one error in each band),
    // which is why the oracle states the plain all-pairs formulation
    // instead of mirroring the bands.
    val nBands = HammingThreshold + 1
    val bandBits = forceBandBits.getOrElse(
      simhashBandBits(Tables.nDocs(spark, dir)))
    val sigBits = nBands * bandBits
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select($"doc_id", graft.functions.HashArray60(tokens($"text")).as("hs"))
      .select($"doc_id",
        graft.functions.SimhashSignature($"hs", sigBits).as("sim"))
    val cached = graft.sources.Caches.shared(docs)
    val parts = sigBandParts(cached, nBands, bandBits)
    parts.as("x").join(parts.as("y"),
        $"x.part" === $"y.part" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        bit_count($"x.sim".bitwiseXOR($"y.sim")).as("hamming"))
      .distinct()
  }

  /** Band width for the WIDE (two-word) variant below: same ⌈log₂N⌉ − 3
    * bucket-size derivation and the same 12-bit fixture floor (every
    * driver scale derives 12, keeping the DuckDB twin's `range(0,24)`
    * literal exact), but capped at 24 instead of 15 — each of the 4 bands
    * draws from HALF of a 2·bandBits-bit word, and 2×24 = 48 bits/word
    * keeps the oracle's `floor(h/2^j)` double arithmetic exact. The
    * background knee moves from the narrow cap's N ≈ 2¹⁸ to N ≈ 2²⁷
    * (~134 M docs per dedup partition). */
  private[graft] def simhashWideBandBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(24, math.max(12, ceilLog2 - 3))
  }

  /** WIDE SimHash near-dup pairs — the past-the-cap scale path the r17
    * 200k probe point motivated (SCALING.md "regime boundary"): the
    * narrow signature spends 4×bandBits of ONE hash60 word, so its band
    * width caps at 15 bits and background collisions return to ∝ N²/2¹⁶
    * above N ≈ 2¹⁸. This variant folds TWO independent signature words —
    * word A over `hash60(token)`, word B over `hash60('w2|' || token)` —
    * and gives each of the SAME 4 Manku bands half a word, so band keys
    * reach 24 bits before any structural cap binds. Completeness is the
    * identical pigeonhole argument (hamming ≤ 3 across the concatenated
    * signature leaves ≥ 1 of 4 disjoint bands untouched); hamming is
    * popcount(a⊕a') + popcount(b⊕b'). Width-adaptive metric semantics are
    * the library's documented simhash convention (a wider signature is a
    * finer token-distribution hash); at every fixture scale both words
    * derive 24 bits, so the metric granularity (48 signature bits,
    * threshold 3) matches the narrow operator's. */
  def simhashWide(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashWideCandidates(spark, dir)
      .filter($"hamming" <= HammingThreshold)
      .orderBy($"id_a", $"id_b")
  }

  /** Distinct wide-band collision pairs with their two-word hamming
    * distance, BEFORE the threshold — the [[graft.ScaleProbe]] surface;
    * `forceBandBits` is the probe's derived-vs-forced A/B hook. */
  private[graft] def simhashWideCandidates(spark: SparkSession, dir: String,
      forceBandBits: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val bandBits = forceBandBits.getOrElse(
      simhashWideBandBits(Tables.nDocs(spark, dir)))
    val wordBits = 2 * bandBits
    val mask = (1L << bandBits) - 1
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select($"doc_id", tokens($"text").as("toks"))
      .select($"doc_id",
        graft.functions.SimhashSignature(
          graft.functions.HashArray60($"toks"), wordBits).as("sim_a"),
        graft.functions.SimhashSignature(
          graft.functions.HashArray60(
            transform($"toks", t => concat(lit("w2|"), t))),
          wordBits).as("sim_b"))
    val cached = graft.sources.Caches.shared(docs)
    // 4 disjoint bands, two per word: the sigBandParts split generalized
    // to a multi-word signature (each key is bandBits bits of one word)
    val parts = cached.select($"doc_id", $"sim_a", $"sim_b",
        explode(array(
          struct(lit(0).as("part"),
            $"sim_a".bitwiseAND(lit(mask)).as("key")),
          struct(lit(1).as("part"),
            shiftright($"sim_a", bandBits).bitwiseAND(lit(mask)).as("key")),
          struct(lit(2).as("part"),
            $"sim_b".bitwiseAND(lit(mask)).as("key")),
          struct(lit(3).as("part"),
            shiftright($"sim_b", bandBits).bitwiseAND(lit(mask)).as("key")))).as("p"))
      .select($"doc_id", $"sim_a", $"sim_b", $"p.part", $"p.key")
    parts.as("x").join(parts.as("y"),
        $"x.part" === $"y.part" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        (bit_count($"x.sim_a".bitwiseXOR($"y.sim_a")) +
          bit_count($"x.sim_b".bitwiseXOR($"y.sim_b"))).as("hamming"))
      .distinct()
  }

  /** Scheme-dispatch knee: the narrow signature's derived band width
    * ([[simhashBandBits]] = ⌈log₂N⌉ − 3) hits its structural 15-bit cap
    * past N = 2¹⁸ — beyond it the narrow scheme silently degrades to
    * ∝ N²/2¹⁶ background collisions (SCALING.md measured the cliff at
    * the 200k probe point: ~6.1 B candidate pairs at 10 M docs). The
    * wide two-word scheme keeps deriving to 24 bits (knee 2²⁷), so past
    * the narrow cap it is strictly the right signature. Below the knee
    * the schemes derive the SAME 4×bandBits geometry and the narrow one
    * hashes each token once instead of twice — cheaper, and the
    * long-oracled default. */
  private[graft] def simhashUseWide(n: Long): Boolean = n > (1L << 18)

  /** SimHash near-dup pairs with the signature SCHEME selected from the
    * corpus size — the scale-safe entry point (r17 verdict: "an operator
    * that selects the signature scheme from N is the scale-safe shape").
    * Same derived-width philosophy as [[simhashBandBits]], one knob up:
    * the width derivation already adapts WITHIN a scheme; this adapts
    * ACROSS them at the narrow cap's knee, so no caller has to know the
    * 2¹⁸ cliff exists to avoid it. Both branches keep their own DuckDB
    * oracles; at every gate scale (≤ 2¹⁸ docs) this provably selects
    * [[simhash]], so `dedup_simhash_auto` shares the narrow oracle and
    * the crossover itself is pinned in DedupSpec. */
  def simhashAuto(spark: SparkSession, dir: String): DataFrame =
    if (simhashUseWide(Tables.nDocs(spark, dir))) simhashWide(spark, dir)
    else simhash(spark, dir)

  // -------------------------------------------------- benchmark decontamination

  val ContamBenchStride = 50
  val ContamGram = 8
  val ContamMinShared = 8

  /** Benchmark-set stride, derived from corpus size (same fixture-floored
    * pattern as [[incrementalStride]]): every stride-th doc stands in for
    * the held-out eval suite, and a benchmark is a BOUNDED external
    * artifact — carving it with a constant stride would grow it linearly
    * with the corpus and with it the broadcast postings / bloom load.
    * max(50, n/1000) saturates the carved set at ≈ 1 000 docs; the floor
    * holds at every fixture scale and the 40k probe (knee n = 50 000),
    * keeping the oracle's `doc_id % 50` literal bit-identical. */
  private[graft] def contamBenchStride(nDocs: Long): Long =
    warnIfPastOracleFloor("contamination benchmark stride",
      math.max(ContamBenchStride, nDocs / 1000), ContamBenchStride)

  /** Benchmark decontamination: flag corpus documents sharing ≥ 8 distinct
    * word-8-grams with any "benchmark" document (here every 50th doc stands
    * in for the held-out eval set). The canonical pre-training hygiene pass:
    * eval-set n-grams must not leak into training data. High-order grams on
    * purpose (GPT-3 used 13-grams, Llama-family ~8): chance 8-gram
    * collisions are ~0, so any match is a real contamination signal —
    * low-order grams would drown in vocabulary-level background overlap.
    *
    * Scale shape: the benchmark set is SMALL by definition, so its exploded
    * (gram, bench_id) postings are broadcast; the corpus is exploded to
    * grams once and map-side inner-joined against that broadcast — rows that
    * match no benchmark gram (the overwhelming majority) die before any
    * exchange, and the only shuffle is the partial-aggregated overlap count
    * on (doc_id, bench_id). The corpus itself is never shuffled. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    contaminationOverlaps(spark, dir)
      .filter($"n_shared" >= ContamMinShared)
      .select($"doc_id", $"bench_id", $"n_shared",
        ($"n_shared".cast("double") / $"ng".cast("double")).as("overlap_frac"))
      .orderBy($"doc_id", $"bench_id")
  }

  /** Per-(doc, bench) shared-gram counts BEFORE the contamination threshold —
    * the posting-join volume [[graft.ScaleProbe]] tracks per scale factor. */
  private[graft] def contaminationOverlaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stride = contamBenchStride(Tables.nDocs(spark, dir))
    val grams = Tables.spread(Tables.documents(spark, dir))
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= ContamGram)
      .select($"doc_id",
        graft.functions.WordGramHashes($"toks", ContamGram).as("grams"))
      .withColumn("ng", size($"grams"))
    val bench = grams.filter($"doc_id" % stride === 0)
      .select($"doc_id".as("bench_id"), explode($"grams").as("gram"))
    val corpus = grams.filter($"doc_id" % stride =!= 0)
      .select($"doc_id", $"ng", explode($"grams").as("gram"))
    corpus.join(broadcast(bench), "gram")
      .groupBy($"doc_id", $"ng", $"bench_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  val BloomBits   = 1 << 16   // m floor: filter size in bits at fixture scale
  val BloomHashes = 4         // k: double-hashed probe positions per gram
  /** Hard ceiling on m: the filter rides the plan as an m-element Boolean
    * literal (1 byte/bit in the literal array), so 2^24 ≈ 16 MB is the
    * largest the plan can reasonably carry — past it production shards the
    * filter per-executor instead of growing one literal, and [[buildBloom]]
    * refuses outright rather than letting a 100+ MB literal (and its
    * driver-side bit collect) hang planning. */
  val MaxBloomLiteralBits = 1 << 24

  /** Filter size in bits, derived from the benchmark gram count with the
    * same fixture-floored pattern as [[simhashBandBits]] /
    * `Similarity.lshBandBits`: a constant m would let the false-positive
    * rate (1 − e^(−kn/m))^k climb toward 1 as the benchmark suite grows —
    * ScaleProbe measures the surviving-gram volume growing ×73 for ×10
    * corpus at fixed m = 2^16 precisely because the sf0.1 benchmark already
    * loads 30 % of the bits. Deriving m ≥ 12·n (next power of two) holds
    * ~12 bits/item ⇒ FPR ≈ 0.3 % at ANY benchmark size. The floor keeps
    * every fixture scale (≤ 5 461 bench grams) at exactly 2^16 so the
    * DuckDB oracle's literal bitset stays bit-identical; the
    * [[MaxBloomLiteralBits]] cap is where production would shard the
    * filter per-executor instead of growing one literal. */
  private[graft] def bloomBits(benchGrams: Long): Int = {
    var m = BloomBits
    // m/12 < n ⟺ m < 12n in integers, without overflowing 12·n
    while (m < MaxBloomLiteralBits && m.toLong / 12 < benchGrams) m <<= 1
    warnIfPastOracleFloor("bloom filter bits (m)", m, BloomBits).toInt
  }

  /** The k probe positions of gram hash `g` in an m-bit filter
    * (Kirsch-Mitzenmacher double hashing over the portable hash60).
    * h1 reads the low bits, h2 bits 30..57 — disjoint for every m up to
    * the [[MaxBloomLiteralBits]] cap, so the two hashes stay independent as m derives upward
    * (overlapping bit ranges correlate the probes and cost real FPR). */
  private def bloomPositions(g: Column, m: Int): Seq[Column] = {
    val h1 = g % m
    val h2 = shiftright(g, 30) % m
    (0 until BloomHashes).map(j => (h1 + lit(j.toLong) * h2) % m)
  }

  /** Materialize the m-bit filter over a `gram` column. The collect is the
    * distinct SET-BIT positions — bounded by m regardless of input size. */
  private def buildBloom(grams: DataFrame, m: Int): Seq[Boolean] = {
    require(m <= MaxBloomLiteralBits,
      s"bloom m=$m exceeds the $MaxBloomLiteralBits-element plan-literal ceiling — " +
        "shard the filter per-executor instead of growing one literal")
    val spark = grams.sparkSession
    import spark.implicits._
    val setBits = grams
      .select(explode(array(bloomPositions(col("gram"), m): _*)).as("pos"))
      .distinct().as[Long].collect()
    val bits = Array.fill(m)(false)
    setBits.foreach(p => bits(p.toInt) = true)
    bits.toSeq
  }

  /** Bloom-filter decontamination — the constant-memory scale path of
    * [[contamination]]. The exact operator broadcasts the full benchmark
    * POSTINGS (gram, bench_id); at a production benchmark-suite size that
    * broadcast is the binding constraint. Here the benchmark is folded into
    * an m-bit Bloom filter (k = 4 positions per gram by Kirsch-Mitzenmacher
    * double hashing of the gram's hash60), and every corpus gram probes the
    * broadcast BITSET map-side — the overwhelming majority of grams die
    * before any exchange or join, and only Bloom survivors reach the exact
    * verification join (Bloom filters have no false negatives, so the
    * verified result is exactly [[contamination]]'s membership). The filter
    * build collects the distinct SET BIT positions — bounded by m
    * regardless of benchmark size (the langid-profile collect pattern), so
    * the broadcast is ≤ 8 KB at the fixture-scale floor and capped at
    * 16 MB by [[bloomBits]], where the postings broadcast grows without
    * bound with the benchmark.
    *
    * The filter is fully deterministic (positions are arithmetic on the
    * portable hash60), so the oracle reconstructs the IDENTICAL bitset in
    * SQL and every count — including the false-positive gap
    * n_bloom_hits − n_exact_hits — is hash-exact across engines, not
    * bounded-error. Output per corpus doc: (doc_id, n_grams, n_bloom_hits,
    * n_exact_hits, contaminated = any exact hit). */
  def bloomContamination(spark: SparkSession, dir: String): DataFrame =
    bloomContaminationImpl(spark, dir, None)

  /** `forceBits` exists for ScaleProbe A/Bs only (measuring the derived m
    * against a forced constant); operators always derive. */
  private[graft] def bloomContaminationImpl(spark: SparkSession, dir: String,
      forceBits: Option[Int]): DataFrame = {
    import spark.implicits._
    val stride = contamBenchStride(Tables.nDocs(spark, dir))
    val grams = Tables.spread(Tables.documents(spark, dir))
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= ContamGram)
      .select($"doc_id",
        graft.functions.WordGramHashes($"toks", ContamGram).as("grams"))
    val bench = graft.sources.Caches.shared(
      grams.filter($"doc_id" % stride === 0)
        .select(explode($"grams").as("gram")).distinct())
    // m derived from the benchmark size ([[bloomBits]]); == 2^16 at every
    // fixture scale (sf0.1 benchmark: 4 457 grams, 12× = 53 484 < 2^16) so
    // the oracle's literal-65536 arithmetic is bit-identical
    val m = forceBits.getOrElse(bloomBits(bench.count()))
    val bits = buildBloom(bench, m)
    val bitsLit = typedLit(bits)
    def mightContain(g: Column): Column = bloomPositions(g, m)
      .map(p => element_at(bitsLit, (p + 1).cast("int")))
      .reduce(_ && _)
    val corpus = grams.filter($"doc_id" % stride =!= 0)
    val hits = corpus.select($"doc_id", explode($"grams").as("gram"))
      .filter(mightContain($"gram"))
      .join(broadcast(bench.withColumn("in_bench", lit(true))), Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bloom_hits"),
        sum(when($"in_bench", 1L).otherwise(0L)).as("n_exact_hits"))
    corpus.select($"doc_id", size($"grams").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        coalesce($"n_bloom_hits", lit(0L)).as("n_bloom_hits"),
        coalesce($"n_exact_hits", lit(0L)).as("n_exact_hits"))
      .withColumn("contaminated", $"n_exact_hits" >= 1)
      .orderBy($"doc_id")
  }

  /** The static side for [[bloomContaminationStream]]: the materialized
    * bitset plus the distinct benchmark grams for exact verification. */
  def bloomBenchStatics(spark: SparkSession, dir: String): (Seq[Boolean], DataFrame) = {
    import spark.implicits._
    val stride = contamBenchStride(Tables.nDocs(spark, dir))
    val bench = graft.sources.Caches.shared(
      Tables.documents(spark, dir)
        .filter($"doc_id" % stride === 0)
        .select($"doc_id", tokens($"text").as("toks"))
        .filter(size($"toks") >= ContamGram)
        .select(explode(
          graft.functions.WordGramHashes($"toks", ContamGram)).as("gram"))
        .distinct())
    (buildBloom(bench, bloomBits(bench.count())), bench)
  }

  /** Streaming twin of [[bloomContamination]] — constant-memory ingest
    * hygiene: each arriving document's grams probe the literal bitset
    * MAP-SIDE (a pure projection over the micro-batch; no stream state, no
    * broadcast that grows with the benchmark), and only Bloom survivors
    * reach the exact stream-static verification join. Update-mode counts
    * keyed by doc_id, bounded because a doc's grams arrive in one batch.
    * Flags docs with ≥ 1 exact benchmark gram. */
  def bloomContaminationStream(docStream: DataFrame,
      bits: Seq[Boolean], bench: DataFrame): DataFrame = {
    val m = bits.length
    val bitsLit = typedLit(bits)
    def mightContain(g: Column): Column = bloomPositions(g, m)
      .map(p => element_at(bitsLit, (p + 1).cast("int")))
      .reduce(_ && _)
    docStream
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ContamGram)
      .select(col("doc_id"),
        explode(graft.functions.WordGramHashes(col("toks"), ContamGram)).as("gram"))
      .filter(mightContain(col("gram")))
      .join(broadcast(bench.withColumn("in_bench", lit(true))), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bloom_hits"),
        sum(when(col("in_bench"), 1L).otherwise(0L)).as("n_exact_hits"))
      .filter(col("n_exact_hits") >= 1)
  }

  /** Streaming twin of [[contamination]]: a STREAM of documents checked
    * against the static benchmark postings — a stream-static join, the shape
    * of online ingest hygiene (docs flagged as they arrive, before landing
    * in the training corpus). The static side is broadcast; per micro-batch
    * the stream is exploded to gram postings, map-side joined, and the
    * overlap count aggregated in update mode (state keyed by
    * (doc_id, bench_id) — bounded because a doc's grams all arrive in one
    * batch; production would add a watermark on an ingest timestamp).
    *
    * `bench`: static (bench_id, gram) postings, e.g.
    * `contaminationBenchPostings`. Stream schema: (doc_id, text). */
  def contaminationStream(docStream: DataFrame, bench: DataFrame): DataFrame = {
    val grams = docStream
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ContamGram)
      .select(col("doc_id"),
        explode(graft.functions.WordGramHashes(col("toks"), ContamGram)).as("gram"))
    grams.join(broadcast(bench), "gram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContamMinShared)
  }

  /** The static benchmark postings for [[contaminationStream]]. */
  def contaminationBenchPostings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stride = contamBenchStride(Tables.nDocs(spark, dir))
    Tables.documents(spark, dir)
      .filter($"doc_id" % stride === 0)
      .select($"doc_id".as("bench_id"), tokens($"text").as("toks"))
      .filter(size($"toks") >= ContamGram)
      .select($"bench_id",
        explode(graft.functions.WordGramHashes($"toks", ContamGram)).as("gram"))
  }

  // ------------------------------------------------------ span-level dedup

  val SpanTokens = 8

  /** CCNet-style SEGMENT-level deduplication: documents are segmented into
    * aligned [[SpanTokens]]-token spans, and every span whose text occurs
    * elsewhere in the corpus is dropped EXCEPT its first occurrence (first =
    * smallest (doc_id, span_id)). This is the sub-document companion to the
    * whole-document dedup family: boilerplate/template passages repeated
    * across pages are removed while each document's unique content survives.
    * Output: one row per document — (doc_id, n_spans, n_dropped,
    * clean_digest = hash60 of the kept spans rejoined in order; "" when
    * everything was dropped).
    *
    * Scale design: three linear shuffles and nothing else — (1) spans
    * explode then groupBy span-hash with a partial-aggregated
    * min(doc_id, span_id)/count (the shuffle moves one 8-byte hash + 16
    * bytes of agg state per DISTINCT span, not span text); (2) the
    * postings join back on the hash (span text rides the probe side only);
    * (3) the per-document rebuild, whose collect_list state is bounded by
    * document length. No pairwise anything: corpus-frequency dedup is a
    * counting problem, not a similarity problem. At 100 TB the owner table
    * is exactly CCNet's sharded hash table, here expressed as the natural
    * groupBy. */
  /** Per-row span explode of any (doc_id, text) relation — a pure
    * projection (like [[signRows]]), so it applies identically to the batch
    * corpus and to an arriving micro-batch in [[spanDedupStream]]. */
  private def spanRows(rows: DataFrame): DataFrame =
    rows
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 1)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), floor((col("n") - 1) / SpanTokens).cast("int")),
        i => concat_ws(" ", slice(col("toks"), i * SpanTokens + 1, lit(SpanTokens)))))
        .as(Seq("span_id", "span_text")))
      .withColumn("h", hash60(col("span_text")))

  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // both join sides (owner groupBy + probe) read the spans: materialize once
    val spans = graft.sources.Caches.shared(
      spanRows(Tables.spread(Tables.documents(spark, dir))))
    val owners = spans.groupBy($"h")
      .agg(min(struct($"doc_id", $"span_id")).as("own"))
    spans.join(owners, "h")
      .withColumn("kept",
        $"doc_id" === $"own.doc_id" && $"span_id" === $"own.span_id")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"kept", 0L).otherwise(1L)).as("n_dropped"),
        hash60(concat_ws(" ", transform(
          sort_array(collect_list(when($"kept",
            struct($"span_id", $"span_text")))),
          s => s.getField("span_text")))).as("clean_digest"))
      .orderBy($"doc_id")
  }

  /** The static corpus side for [[spanDedupStream]]: every distinct span
    * hash already present in the corpus. */
  def spanCorpusHashes(spark: SparkSession, dir: String): DataFrame =
    spanRows(Tables.documents(spark, dir)).select(col("h")).distinct()

  /** Streaming twin of [[spanDedup]]: arriving (doc_id, text) documents are
    * span-exploded PER ROW (pure projection, no stream state) and each span
    * is checked against the STATIC corpus span-hash table — the ingest-time
    * shape of segment dedup, where a new crawl batch sheds the boilerplate
    * the corpus already holds before landing. Spans whose hash exists in
    * the corpus are dropped (the corpus occurrence is the keeper by
    * definition — it precedes anything arriving); the per-doc rebuild is an
    * update-mode aggregation keyed by doc_id, bounded because one doc's
    * spans arrive in one batch.
    *
    * Scale posture: the demo broadcasts the hash table like
    * [[contaminationStream]]; at corpus scale the same plan is a
    * stream-static SHUFFLE join on h against a bucketed corpus hash table,
    * with only the arriving batch's spans moving. */
  def spanDedupStream(docStream: DataFrame, corpusHashes: DataFrame): DataFrame = {
    spanRows(docStream)
      .join(broadcast(corpusHashes.withColumn("in_corpus", lit(true))),
        Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("in_corpus"), 1L).otherwise(0L)).as("n_dropped"),
        hash60(concat_ws(" ", transform(
          sort_array(collect_list(when(col("in_corpus").isNull,
            struct(col("span_id"), col("span_text"))))),
          s => s.getField("span_text")))).as("clean_digest"))
  }

  // -------------------------------------------- substring-level exact dedup

  /** Anchor width (tokens) for [[substringDedup]] — the fixture-scale stand-
    * in for Lee et al.'s 50-token threshold (fixture docs are ~40 tokens). */
  val SubstrGram = 8

  /** Exact SUBSTRING-level duplicate measurement (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better", at k-gram
    * anchor resolution): every [[SubstrGram]]-token window that occurs
    * anywhere else in the corpus — at ANY offset, unlike [[spanDedup]]'s
    * ALIGNED segments — marks its positions duplicated, except the gram's
    * single global first occurrence (min (doc_id, pos)); per document,
    * overlapping/adjacent duplicated anchors merge into MAXIMAL duplicated
    * spans (gaps-and-islands: a new island starts when the next anchor
    * begins more than [[SubstrGram]] tokens after the previous — beyond
    * overlap or adjacency), and the duplicated-token count is the union
    * length Σ(last − first + k) over islands. Output per doc: n_grams,
    * n_dup_starts (duplicated anchors), n_dup_spans (islands),
    * n_dup_tokens (union length), dup_frac (of the doc's tokens, 6 dp).
    *
    * Scale design: linear shuffles only — (1) the positional gram hashes
    * are ONE compiled pass per doc ([[graft.functions.PositionalGramHashes]],
    * no gram string materialized), exploded to (hash, doc, pos) anchors;
    * (2) global first-occurrence ranking is a window over the gram hash —
    * the same hash-partitioned shuffle a groupBy would make, state one
    * row_number per key; (3) island merging is a per-doc window (lag +
    * running sum), bounded by document length. No pairwise step anywhere:
    * like [[spanDedup]] this is counting, not similarity — the 100 TB cost
    * is Θ(corpus tokens) through three exchanges. The suffix-array
    * formulation of the paper finds duplicates at ANY length ≥ threshold;
    * anchoring at k-grams is the standard distributed approximation (a
    * duplicated run of L ≥ k tokens is covered exactly by its L − k + 1
    * duplicated anchors — the island reconstructs the full run). */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.PositionalGramHashes
    val toks = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("n_toks"),
        PositionalGramHashes(col("t"), SubstrGram).as("gh"))
    val anchors = toks
      .select(col("doc_id"), col("n_toks"), posexplode(col("gh")).as(Seq("pos0", "h")))
      .select(col("doc_id"), col("n_toks"), (col("pos0") + 1).as("pos"), col("h"))
    // global first occurrence of each gram survives; every later occurrence
    // is a duplicated anchor. row_number over the gram hash = the postings
    // shuffle; rn > 1 ⇔ (count > 1 ∧ not first)
    val wFirst = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    val dup = anchors
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands per doc: new island when the anchor starts beyond
    // the previous anchor's reach (prev + k)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = dup
      .withColumn("prev", lag(col("pos"), 1).over(wDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > SubstrGram, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("f"), max(col("pos")).as("l"),
        count(lit(1)).as("ns"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("ns")).as("n_dup_starts"),
        sum(col("l") - col("f") + SubstrGram).as("n_dup_tokens"))
    toks.select(col("doc_id"), col("n_toks"),
        greatest(size(col("gh")), lit(0)).cast("long").as("n_grams"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        round(coalesce(col("n_dup_tokens"), lit(0L)) /
          greatest(col("n_toks"), lit(1)).cast("double"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Distinct corpus gram-anchor hashes — the static side of
    * [[substringDedupStream]] (the [[spanCorpusHashes]] pattern). */
  def substringCorpusHashes(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(spark, dir)
      .select(graft.functions.PositionalGramHashes(
        graft.functions.Text.tokens(col("text")), SubstrGram).as("gh"))
      .select(explode(col("gh")).as("h")).distinct()

  /** Streaming twin of [[substringDedup]]: arriving (doc_id, text) docs are
    * anchor-exploded per row and checked against the STATIC corpus gram
    * table (any corpus occurrence marks the anchor duplicated — the corpus
    * precedes anything arriving, so there is no first-occurrence exemption
    * in-stream, the [[spanDedupStream]] convention). Because streaming
    * forbids ordered windows, the per-doc island merge runs as a CLOSED
    * FORM over the sorted duplicated-anchor positions: with gaps
    * gᵢ = aᵢ₊₁ − aᵢ, the union length is k + Σ min(gᵢ, k) (a gap beyond k
    * starts a new island and the finished one contributes its full k-token
    * tail; a gap within k contributes exactly the gap) and the island
    * count is 1 + |{gᵢ > k}| — pure array expressions over one
    * update-mode collect_list bounded by document length, value-identical
    * to the batch window formulation (`StatefulSpec` cross-checks). */
  def substringDedupStream(docStream: DataFrame, corpusHashes: DataFrame): DataFrame = {
    val k = SubstrGram
    // posexplode_OUTER: a doc with fewer than k tokens has no anchors, but
    // must still emit its n_grams=0 row like the batch twin — the outer
    // explode keeps one all-null row per anchorless doc (count(pos) counts
    // only real anchors; the null key finds no corpus match)
    val anchors = docStream
      .select(col("doc_id"), graft.functions.PositionalGramHashes(
        graft.functions.Text.tokens(col("text")), k).as("gh"))
      .select(col("doc_id"), posexplode_outer(col("gh")).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
    val marked = anchors
      .join(broadcast(corpusHashes.withColumn("in_corpus", lit(true))),
        Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("pos")).as("n_grams"),
        sort_array(collect_list(when(col("in_corpus"), col("pos")))).as("dups"))
    val gapLen = greatest(size(col("dups")) - 1, lit(0))
    val gaps = zip_with(
      slice(col("dups"), lit(2), gapLen),
      slice(col("dups"), lit(1), gapLen),
      (a, b) => a - b)
    marked.select(col("doc_id"), col("n_grams"),
      size(col("dups")).cast("long").as("n_dup_starts"),
      when(size(col("dups")) === 0, 0L)
        .otherwise(lit(1L) + size(filter(gaps, g => g > k)).cast("long"))
        .as("n_dup_spans"),
      when(size(col("dups")) === 0, 0L)
        .otherwise(lit(k.toLong) + coalesce(
          aggregate(gaps, lit(0L), (acc, g) => acc + least(g, lit(k))), lit(0L)))
        .as("n_dup_tokens"))
  }

  // ------------------------------------------------------- n-gram Jaccard

  val LenBand = 16
  val NgramThreshold = 0.8

  /** Blocked word-bigram Jaccard near-dup: documents are bucketed by length
    * band (|Δ n_chars| ≤ 16 for candidates — near-dups can't change length
    * much); the right side is replicated to its 3 neighboring bands so the
    * pair search is a pure equi-join on the band key (shuffle on band, no
    * cross product). Verification is exact Jaccard over hash60'd bigrams —
    * long-array intersection, with |A∪B| = |A|+|B|−|A∩B| so only the
    * intersection is materialized. */
  /** (doc_id, n_chars, grams, ng) with grams the SORTED distinct hash60s of
    * word bigrams — sorted both for the merge-walk intersection and because
    * prefix filtering requires one canonical global gram order. */
  private def ngramDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.sources.Caches.shared(
      Tables.spread(Tables.documents(spark, dir))
        .select($"doc_id", $"n_chars", tokens($"text").as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", $"n_chars",
          graft.functions.WordGramHashes($"toks", 2).as("grams"))
        .withColumn("ng", size($"grams")))
  }

  /** Candidate pairs by df-ordered PREFIX FILTERING (the Chaudhuri/Bayardo/
    * ppjoin scheme): J ≥ τ forces |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, so under ANY
    * consistent global gram order A and B must share a gram among each
    * side's first n − ⌈τ·n⌉ + 1 grams — a ~20 % prefix at τ = 0.8. The
    * global order is ascending DOCUMENT FREQUENCY (ties by hash): prefixes
    * then hold each document's RAREST grams, so the posting lists being
    * self-joined are the short ones, and candidate volume tracks actual
    * textual overlap instead of the length histogram (ScaleProbe measured
    * the length-band scheme at 798 k pairs for 256 true pairs at sf0.1;
    * hash-ordered prefixes still 337 k — common template bigrams land in
    * prefixes under a frequency-blind order).
    *
    * Cost shape at 100 TB: one postings explode (linear), one df groupBy
    * (shuffle of distinct grams), one postings⋈df + per-doc top-(0.2·n)
    * window (shuffles of linear data), then the equi-join on prefix grams.
    * All linear-volume shuffles; no cross pairing anywhere. Exactness: every
    * J ≥ 0.8 pair satisfies the size-ratio bound (J ≤ min/max) and the
    * prefix-overlap lemma, so no true pair is missed; the oracle keeps the
    * plain all-pairs formulation as the independent witness. */
  private[graft] def ngramCandidates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = ngramDocs(spark, dir)
    val posts = docs.select($"doc_id", $"n_chars", $"ng", explode($"grams").as("gram"))
    val dfreq = posts.groupBy($"gram").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"df".asc, $"gram".asc)
    // prefix length n − ⌈4n/5⌉ + 1 in exact integer math: ⌈4n/5⌉ = ⌊(4n+4)/5⌋
    // both join sides read the same postings: materialize the (explode →
    // df groupBy → join → per-doc rank) pipeline once
    val post = graft.sources.Caches.shared(posts.join(dfreq, "gram")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= $"ng" - floor(($"ng" * 4 + 4) / 5) + 1)
      .select($"doc_id", $"n_chars", $"ng", $"rank", $"gram"))
    val pa = post.select($"doc_id", $"n_chars", $"ng", $"rank", $"gram")
    val pb = post.select($"doc_id".as("id_b"), $"n_chars".as("nc_b"),
      $"ng".as("ng_b"), $"rank".as("rank_b"), $"gram".as("gram_b"))
    // ppjoin ACCUMULATED-overlap filter (the pair-level suffix-side bound,
    // replacing round 3's weaker per-row positional conjunct): aggregate the
    // matched prefix rows per pair — k = |shared prefix grams|, (i_last,
    // j_last) = the LAST matched gram's ranks. Under one consistent global
    // gram order the pair's common grams beyond those k all rank after
    // i_last in A AND after j_last in B (any common gram g outside a prefix
    // ranks above that prefix's end, hence above every matched gram on BOTH
    // sides), so |A∩B| ≤ k + min(ng − i_last, ng_b − j_last). J ≥ τ needs
    // |A∩B| ≥ ⌈τ/(1+τ)·(ng+ng_b)⌉ — the EXACT sum-form threshold, tighter
    // than round 3's ⌈τ·max⌉ — i.e. 9·bound ≥ 4·(ng+ng_b) at τ = 0.8 in
    // exact integers. The per-row positional filter is deliberately NOT
    // applied pre-aggregation: pruning an intermediate matched row would
    // shrink k and break the bound's soundness, and the first-match
    // positional bound 1 + min(ng − i₁, ng_b − j₁) is ≥ the accumulated
    // bound anyway (k grows by at most 1 per rank step), so this filter
    // strictly subsumes it. The groupBy replaces the DISTINCT — the same
    // pair-keyed shuffle, now carrying three small integers of agg state.
    pa.join(pb,
        $"gram" === $"gram_b" && $"doc_id" < $"id_b" &&
          abs($"n_chars" - $"nc_b") <= LenBand &&
          least($"ng", $"ng_b") * 5 >= greatest($"ng", $"ng_b") * 4)
      .groupBy($"doc_id", $"id_b")
      .agg(count(lit(1)).as("k"),
        max($"rank").as("i_last"), max($"rank_b").as("j_last"),
        first($"ng").as("ng"), first($"ng_b").as("ng_b"))
      .filter(($"k" + least($"ng" - $"i_last", $"ng_b" - $"j_last")) * 9 >=
        ($"ng" + $"ng_b") * 4)
      .select($"doc_id".as("id_a"), $"id_b")
  }

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = ngramDocs(spark, dir)
    val a = docs.select($"doc_id".as("id_a"), $"grams".as("gr_a"), $"ng".as("ng_a"))
    val b = docs.select($"doc_id".as("id_b"), $"grams".as("gr_b"), $"ng".as("ng_b"))
    val inter = graft.functions.IntersectCardinality($"gr_a", $"gr_b")
    val jac = inter.cast("double") / (($"ng_a" + $"ng_b") - inter).cast("double")
    ngramCandidates(spark, dir)
      .join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", jac)
      .filter($"jaccard" >= NgramThreshold)
      .select($"id_a", $"id_b", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }
}
