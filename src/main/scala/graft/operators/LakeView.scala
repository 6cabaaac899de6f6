package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.storage.{Artifact, LakeCursor}

/** USER-DECLARED incremental materialized views over the corpus lake —
  * the profile view's signed-retraction algebra ([[CorpusLake]]'s
  * `refreshProfileFromLake` family) generalized to arbitrary grouped
  * aggregates: the caller declares grouping dimensions and SUM measures
  * as SQL expression strings over `(doc_id, text)` (the DLT/dbt
  * convention — a view is data, not code, so the spec is stored with the
  * view and survives restarts), and the lake maintains the aggregate
  * incrementally from its commit feed:
  *
  * {{{
  *   viewDir/spec     one row: dim/measure aliases + SQL expressions
  *   viewDir/base     the aggregate over the base corpus (+ _folded_to
  *                    watermark after a compaction)
  *   viewDir/delta    signed per-(dims, version) contribution rows
  *   viewDir/cursor   last consumed lake version (written LAST)
  * }}}
  *
  * Maintenance is O(changed docs per window), never O(corpus): each
  * refresh lag-windows the changed docs' committed history once, emits
  * +new/−previous contribution rows per (dims, version), and appends
  * them keyed by version — crash-replays recompute byte-identical rows
  * that the read-side (dims, version) dedup collapses. Deletes retract
  * the text they replaced and add nothing; re-admissions past a
  * tombstone retract nothing (the tombstone had no text). Serving folds
  * base + deltas above the watermark in O(groups·versions); the
  * compaction folds deltas into the base under the same `_folded_to`
  * watermark ordering the profile view proved crash-safe. Expressions
  * are validated (analyzed) at CREATE time, so a typo or an
  * out-of-scope column fails the declaration, not the first refresh.
  *
  * At 100 TB this is the dashboard/monitoring surface: corpus-wide
  * grouped statistics that stay fresh at commit cadence for the cost of
  * each window's changed documents, with no full-corpus recompute
  * anywhere in the loop. Views over a BRANCH work unchanged (every read
  * resolves through the branch-aware manifest/admittedRaw overlay). */
object LakeView {

  /** Reserved output columns a declaration may not alias. */
  private val Reserved = Set("n_docs", "version", "_folded_to")

  private def exprs(pairs: Seq[(String, String)]): Seq[Column] =
    pairs.map { case (alias, e) => expr(e).as(alias) }

  /** Declare + materialize a view: validate the expressions, store the
    * spec, and compute the base-corpus aggregate as the starting state.
    * Dimensions group; `measures` are summed; `n_docs` (the group's doc
    * count) is implicit. `minMeasures`/`maxMeasures` declare NON-ADDITIVE
    * extremes: maintained monotonically (least/greatest) while a window
    * only inserts, re-aggregated per retraction-touched group when a
    * delete or LWW update retracts a value that might have attained the
    * extreme (see [[windowExtRows]] for the cost model). `avgMeasures`
    * declare means — fully additive via an internal (sum, non-null
    * count) pair ([[internalSums]]), so they ride the signed algebra
    * with no recompute leg. Expressions may
    * reference `doc_id` and `text` only — the retraction algebra
    * reconstructs previous document states as (doc_id, prev_text), which
    * is exactly what makes maintenance O(changes). */
  /** Input column names the retraction algebra owns — an enrichment
    * column may not shadow them. */
  private val ReservedInputs =
    Set("doc_id", "text", "prev_text", "epoch", "version", "_del", "_deleted")

  def createView(spark: SparkSession, dir: String, viewDir: String,
      dims: Seq[(String, String)], measures: Seq[(String, String)],
      minMeasures: Seq[(String, String)] = Nil,
      maxMeasures: Seq[(String, String)] = Nil,
      avgMeasures: Seq[(String, String)] = Nil,
      distinctMeasures: Seq[(String, String)] = Nil,
      quantileMeasures: Seq[(String, String, Double)] = Nil,
      baseCols: Seq[String] = Nil): Unit = {
    import spark.implicits._
    require(dims.nonEmpty, "a view needs at least one dimension")
    quantileMeasures.foreach { case (a, _, p) => require(p >= 0 && p <= 1,
      s"quantile measure '$a': p must be in [0,1], got $p") }
    val quantPairs = quantileMeasures.map(q => (q._1, q._2))
    val aliases =
      (dims ++ measures ++ minMeasures ++ maxMeasures ++ avgMeasures ++
        distinctMeasures ++ quantPairs).map(_._1)
    require(aliases.distinct.size == aliases.size,
      s"duplicate aliases in ${aliases.mkString(", ")}")
    aliases.foreach(a => require(
      !Reserved(a) && a.nonEmpty && !a.contains("__") &&
        !baseCols.contains(a),
      s"alias '$a' is reserved, empty, internal, or shadows an " +
        "enrichment column"))
    val baseSchema = Tables.spread(Tables.documents(spark, dir)).columns.toSet
    baseCols.foreach(c => require(
      !ReservedInputs(c) && baseSchema(c),
      s"enrichment column '$c' is reserved or absent from the base table"))
    require(baseCols.distinct.size == baseCols.size,
      s"duplicate enrichment columns in ${baseCols.mkString(", ")}")
    require(!graft.sources.Formats.pathExists(spark, s"$viewDir/spec"),
      s"$viewDir already holds a view (drop the dir to redeclare)")
    // analyze the declaration against the REAL doc schema NOW (including
    // the enrichment columns' true types): a bad expression must fail
    // the create, not the first refresh
    Tables.spread(Tables.documents(spark, dir))
      .select((Seq("doc_id", "text") ++ baseCols).map(col): _*).limit(0)
      .select(exprs(dims ++ measures ++ minMeasures ++ maxMeasures ++
        avgMeasures ++ distinctMeasures ++ quantPairs): _*)
    Seq((dims.map(_._1), dims.map(_._2),
        measures.map(_._1), measures.map(_._2),
        minMeasures.map(_._1), minMeasures.map(_._2),
        maxMeasures.map(_._1), maxMeasures.map(_._2),
        avgMeasures.map(_._1), avgMeasures.map(_._2),
        distinctMeasures.map(_._1), distinctMeasures.map(_._2),
        quantileMeasures.map(_._1), quantileMeasures.map(_._2),
        quantileMeasures.map(_._3), baseCols))
      .toDF("dim_names", "dim_exprs", "measure_names", "measure_exprs",
        "min_names", "min_exprs", "max_names", "max_exprs",
        "avg_names", "avg_exprs", "dist_names", "dist_exprs",
        "q_names", "q_exprs", "q_ps", "base_cols")
      .coalesce(1).write.mode("errorifexists").parquet(s"$viewDir/spec")
    viewAggOf(Tables.spread(Tables.documents(spark, dir))
        .select((Seq("doc_id", "text") ++ baseCols).map(col): _*), dims,
        internalSums(measures, avgMeasures),
        minMeasures, maxMeasures, distinctMeasures, quantileMeasures)
      .write.mode("overwrite").parquet(s"$viewDir/base")
  }

  /** AVG measures ride the proven SIGNED algebra as an internal
    * (sum, non-null count) pair per alias — both additive, so avg needs
    * no recompute leg anywhere: `<alias>__sum` and `<alias>__cnt` live
    * in the base/delta stores (the `__` namespace is refused to user
    * aliases) and the serve projects `sum / cnt` (null when the group
    * has no non-null values). Integer-valued double sums stay exact
    * below 2^53, so the division is bit-portable against an oracle that
    * computes the same `CAST(sum AS DOUBLE) / CAST(count AS DOUBLE)`. */
  private def internalSums(measures: Seq[(String, String)],
      avgs: Seq[(String, String)]): Seq[(String, String)] =
    measures ++ avgs.flatMap { case (a, e) => Seq(
      s"${a}__sum" -> s"CAST(($e) AS DOUBLE)",
      s"${a}__cnt" ->
        s"CASE WHEN ($e) IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END")
    }

  /** The stored declaration: (dims, measures) as (alias, expr) pairs. */
  def viewSpec(spark: SparkSession,
      viewDir: String): (Seq[(String, String)], Seq[(String, String)]) = {
    val s = viewSpecFull(spark, viewDir)
    (s.dims, s.sums)
  }

  /** The stored declaration, all measure kinds. Specs written before a
    * measure kind existed read back with that leg empty — the columns are
    * absent, not null. */
  case class ViewSpec(dims: Seq[(String, String)], sums: Seq[(String, String)],
      mins: Seq[(String, String)], maxs: Seq[(String, String)],
      avgs: Seq[(String, String)], dists: Seq[(String, String)],
      quants: Seq[(String, String, Double)], baseCols: Seq[String] = Nil)

  def viewSpecFull(spark: SparkSession, viewDir: String): ViewSpec = {
    // Artifact.find recovery: schema evolution rewrites the spec via
    // Artifact.publish, so a crash mid-swap self-heals on read.
    // Listing-signature memo: the one-row declaration is read on every
    // serve and refresh — without the memo that is a schema-inference
    // job plus a head() collect per read; an evolution swap rewrites the
    // dir and invalidates the signature.
    val sPath = Artifact.find(spark, viewDir, "spec").getOrElse(
      throw new java.io.FileNotFoundException(s"$viewDir holds no view spec"))
    graft.sources.Caches.bySignature[ViewSpec](spark, "view_spec", sPath) {
      viewSpecUncached(spark, sPath)
    }
  }

  private def viewSpecUncached(spark: SparkSession,
      sPath: String): ViewSpec = {
    val raw = spark.read.parquet(sPath)
    val cols = raw.columns.toSet
    // ONE driver collect for the whole one-row declaration: the previous
    // per-leg `.head()` ran eight separate Spark jobs per spec read, and
    // a spec read sits on every serve and refresh — at fleet cadence
    // that is pure driver-side latency (guide §5: the driver should do
    // almost no data work, and a collect per leg is eight round trips
    // for one KB-scale row)
    val row = raw.head()
    def seqOf(name: String): Seq[String] =
      if (!cols(name)) Nil
      else row.getAs[scala.collection.Seq[String]](name).toSeq
    def leg(names: String, es: String): Seq[(String, String)] =
      seqOf(names).zip(seqOf(es))
    val quants =
      if (!cols("q_names")) Nil
      else {
        val ps = row.getAs[scala.collection.Seq[Double]]("q_ps").toSeq
        seqOf("q_names").lazyZip(seqOf("q_exprs")).lazyZip(ps).toSeq
      }
    ViewSpec(leg("dim_names", "dim_exprs"),
      leg("measure_names", "measure_exprs"),
      leg("min_names", "min_exprs"), leg("max_names", "max_exprs"),
      leg("avg_names", "avg_exprs"), leg("dist_names", "dist_exprs"),
      quants, seqOf("base_cols"))
  }

  /** Join the declared ENRICHMENT columns — immutable per-doc metadata
    * from the base table (language, source, license: facts the lake's
    * (doc_id, text) commits never change) — onto a frame keyed by
    * doc_id. Immutability is what keeps the signed algebra exact: the
    * retracted (prev_text) state carries the SAME enrichment values as
    * the inserted one, so both legs of every delta agree on the group.
    * Lake-BORN docs (ids the base never saw) read null — declarations
    * coalesce (the `datasetCardLake` 'und' convention). The join is
    * pruned to the frame's rows (changed docs on the maintenance path),
    * never corpus × corpus. */
  private def enrich(spark: SparkSession, dir: String, frame: DataFrame,
      baseCols: Seq[String],
      pruneIds: Option[DataFrame] = None,
      broadcastPrune: Boolean = true,
      pruneIdsLocal: Option[Array[Long]] = None): DataFrame =
    if (baseCols.isEmpty) frame
    else {
      // a left-outer join cannot broadcast its left (frame) side, so an
      // unpruned join would shuffle the CORPUS-sized base table by id on
      // every maintenance window. When the caller knows the id set the
      // window touches (changedHistory always does), the base side is
      // semi-joined down to it first — the join then moves window-sized
      // data only. The broadcast hint on the id set is CALLER-GATED:
      // incremental windows are commit-sized by contract (hint safe), but
      // a bootstrap/cursor-loss replay spans every doc ever changed, and
      // an unconditional hint there would force a size-unbounded build
      // side past autoBroadcastJoinThreshold — those callers pass
      // broadcastPrune = false and AQE picks the strategy from the
      // runtime size. Unpruned callers are the one-time O(corpus) builds
      // (create, evolution backfill) and the retraction-recompute
      // snapshot, whose corpus-sized scan the extremes cost model already
      // documents.
      // prune before spreading (same reasoning as changedHistory's base
      // leg): the unpruned path keeps the spread — it feeds a one-time
      // O(corpus) build whose downstream work wants the parallelism —
      // but a pruned window must not pay a corpus-wide exchange first.
      // When the caller already holds the window's id set locally
      // (changedHistory's scan-pushdown fast path), the same `isin`
      // predicate reaches THIS scan's parquet footers too.
      val metaAll = Tables.documents(spark, dir)
        .select(("doc_id" +: baseCols).map(col): _*)
      val meta = pruneIdsLocal match {
        case Some(ids) => metaAll.filter(col("doc_id").isInCollection(ids))
        case None => pruneIds.fold(Tables.spread(metaAll)) { ids =>
          val idSet = ids.select(col("doc_id")).distinct()
          metaAll.join(if (broadcastPrune) broadcast(idSet) else idSet,
            Seq("doc_id"), "left_semi")
        }
      }
      // the base table is the AUTHORITATIVE source: a same-named column
      // the frame happens to carry (a carry-column lake) is dropped
      // first, so the algebra can never see two values for one doc
      frame.drop(baseCols.filter(frame.columns.contains): _*)
        .join(meta, Seq("doc_id"), "left")
    }

  /** The quantile measures' (tag, NaN-sentinel value) input columns —
    * selected beside the dims wherever a sketch is (re)built. The tag is
    * the document identity hash (what keeps equal values from different
    * docs distinct occurrences, and replays byte-identical); NaN stands
    * for null (parquet/encoder-safe) and the aggregator skips it. */
  private def quantInputCols(quants: Seq[(String, String, Double)]): Seq[Column] =
    if (quants.isEmpty) Nil
    else coalesce(xxhash64(col("doc_id")), lit(0L)).as("__qtag") +:
      quants.map { case (a, e, _) =>
        coalesce(expr(e).cast("double"), lit(Double.NaN)).as(a) }

  private def quantBuildAggs(quants: Seq[(String, String, Double)]): Seq[Column] =
    quants.map { case (a, _, _) =>
      graft.functions.QSketch.buildAgg(col("__qtag"), col(a)).as(a) }

  /** The (alias, unaliased column) pairs of a view's EXT-INPUT projection —
    * the same expressions `windowExtRows` selects off the recompute
    * snapshot, exposed as pairs so [[refreshViews]] can namespace them into
    * one shared projection per refresh window (aliases cannot collide
    * across views under a prefix scheme: `__` is refused in user aliases). */
  private def extInputPairs(spec: ViewSpec): Seq[(String, Column)] =
    (spec.dims ++ spec.mins ++ spec.maxs ++ spec.dists)
      .map { case (a, e) => (a, expr(e)) } ++
      (if (spec.quants.isEmpty) Nil
       else ("__qtag", coalesce(xxhash64(col("doc_id")), lit(0L))) +:
         spec.quants.map { case (a, e, _) =>
           (a, coalesce(expr(e).cast("double"), lit(Double.NaN))) })

  /** The view's aggregate over a (doc_id, text) relation. */
  private def viewAggOf(docs: DataFrame, dims: Seq[(String, String)],
      measures: Seq[(String, String)],
      mins: Seq[(String, String)] = Nil,
      maxs: Seq[(String, String)] = Nil,
      dists: Seq[(String, String)] = Nil,
      quants: Seq[(String, String, Double)] = Nil): DataFrame =
    docs.select(exprs(dims ++ measures ++ mins ++ maxs ++ dists) ++
        quantInputCols(quants): _*)
      .groupBy(dims.map(d => col(d._1)): _*)
      .agg(count(lit(1)).as("n_docs"),
        measures.map(m => sum(col(m._1)).as(m._1)) ++
        mins.map(m => min(col(m._1)).as(m._1)) ++
        maxs.map(m => max(col(m._1)).as(m._1)) ++
        dists.map(m => hll_sketch_agg(col(m._1)).as(m._1)) ++
        quantBuildAggs(quants): _*)

  /** Signed per-(dims, version) contribution rows. */
  private def signedRows(texts: DataFrame, sign: Int,
      dims: Seq[(String, String)],
      measures: Seq[(String, String)]): DataFrame =
    texts.select(exprs(dims ++ measures) :+ col("version"): _*)
      .groupBy(dims.map(d => col(d._1)) :+ col("version"): _*)
      .agg((count(lit(1)) * sign).as("n_docs"),
        measures.map(m => (sum(col(m._1)) * sign).as(m._1)): _*)

  /** The changed docs' committed history over (from, head], one row per
    * (doc, committed state) with the state it replaced as `prev_text` —
    * the shared input of the signed sums and the extremes maintenance.
    * O(changed docs' history), never O(corpus). */
  /** Cap on the driver-side id collect backing the scan-pushdown fast
    * path below: a warm refresh window touches commit-sized id sets
    * (tens to hundreds), far under this; past it the collect is refused
    * and the distributed join form runs instead — the driver never holds
    * an unbounded id list. 8 K longs ≈ 64 KB, noise as a plan literal. */
  private[graft] val MaxIdPushdown = 8192

  private def changedHistory(spark: SparkSession, dir: String,
      corpusDir: String, from: Long, head: Long,
      baseCols: Seq[String] = Nil): DataFrame = {
    val committed = CorpusLake.committedRows(
      CorpusLake.admittedRaw(spark, corpusDir),
      CorpusLake.manifest(spark, corpusDir).filter(col("version") <= head))
    val changedIds0 = committed.filter(col("epoch") > from)
      .select(col("doc_id")).distinct()
    // a warm window's id set is commit-sized and consumed THREE times
    // (the pushdown collect below, the lake-history semi-join, the
    // enrich prune) — checkpoint it so the committed-rows plan executes
    // once, not once per consumer; the bootstrap window's set is
    // corpus-sized and flows into size-aware joins instead
    val changedIds = if (from == Long.MinValue) changedIds0
      else changedIds0.localCheckpoint()
    val delFlag =
      if (committed.columns.contains("_deleted"))
        coalesce(col("_deleted"), lit(false))
      else lit(false)
    val hist = committed
      .join(changedIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"), col("epoch"), delFlag.as("_del"))
    // the base-shadow leg must not cost O(corpus) per refresh: the r18
    // matched-window freshness probe measured the shared history build at
    // ~1.3 s/refresh at 200k docs vs ~0.3 s at 40k — the base-table scan
    // was the whole difference (first as a pre-join corpus-wide spread
    // exchange, then as the semi-join's unpruned full scan; a broadcast
    // semi join prunes rows AFTER decoding them, so the scan still reads
    // the corpus). A warm window's id set is commit-sized by contract, so
    // collect it and push an `isin` PREDICATE into the scan — parquet
    // row-group min/max stats on doc_id then skip the corpus at the
    // footer level. Bootstrap / larger-than-cap windows keep the join
    // form (their scan is honestly window-sized anyway), and the spread
    // runs on the pruned survivors, never the raw corpus.
    val idsLocal: Option[Array[Long]] =
      if (from == Long.MinValue) None
      else {
        val ids = changedIds.limit(MaxIdPushdown + 1)
          .collect().map(_.getLong(0))
        if (ids.length <= MaxIdPushdown) Some(ids) else None
      }
    val baseTab = Tables.documents(spark, dir)
    val basePruned = idsLocal match {
      case Some(ids) => baseTab.filter(col("doc_id").isInCollection(ids))
      case None => baseTab.join(changedIds, Seq("doc_id"), "left_semi")
    }
    val baseRows = Tables.spread(basePruned)
      .select(col("doc_id"), col("text"), lit(Long.MinValue).as("epoch"),
        lit(false).as("_del"))
    enrich(spark, dir, hist.unionByName(baseRows), baseCols,
        pruneIds = Some(changedIds),
        // bootstrap/cursor-loss replay: the window is every doc ever
        // changed — size-unbounded, so AQE picks the prune strategy
        broadcastPrune = from != Long.MinValue,
        pruneIdsLocal = idsLocal)
      .withColumn("prev_text", lag(col("text"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("epoch"))))
      .filter(col("epoch") > from)
  }

  /** The signed view deltas of every committed version in (from, head],
    * in ONE lag-windowed pass over the changed docs' history — the
    * generalized `windowDeltas`: deterministic per version regardless of
    * the window split, which is what makes refresh idempotent. */
  private def windowDeltas(seq: DataFrame, dims: Seq[(String, String)],
      measures: Seq[(String, String)],
      baseCols: Seq[String] = Nil): DataFrame = {
    val carry = baseCols.map(col)
    val plus = signedRows(
      seq.filter(!col("_del"))
        .select(Seq(col("doc_id"), col("text"),
          col("epoch").as("version")) ++ carry: _*),
      1, dims, measures)
    val minus = signedRows(
      seq.filter(col("prev_text").isNotNull)
        .select(Seq(col("doc_id"), col("prev_text").as("text"),
          col("epoch").as("version")) ++ carry: _*),
      -1, dims, measures)
    val sums = col("n_docs") +: measures.map(m => col(m._1))
    plus.unionByName(minus)
      .groupBy(dims.map(d => col(d._1)) :+ col("version"): _*)
      .agg(sum(sums.head).as("n_docs"),
        measures.map(m => sum(col(m._1)).as(m._1)): _*)
  }

  /** Absolute group extremes as served at `upTo` (None = head): the
    * latest (dims, version) ext row at-or-below it, seeded by the base
    * aggregate's extremes (version −∞). Post-compaction base rows carry
    * extremes as of the fold watermark; ext rows at-or-below it are
    * gone, exactly like sums deltas. */
  private def extStateAt(spark: SparkSession, viewDir: String,
      baseRows: DataFrame, foldedTo: Long, dims: Seq[(String, String)],
      extNames: Seq[String], upTo: Option[Long]): DataFrame = {
    val dimCols = dims.map(d => col(d._1))
    val baseExt = baseRows
      .select(dimCols ++ extNames.map(col) :+
        lit(Long.MinValue).as("version"): _*)
    val rows = Artifact.find(spark, viewDir, "ext").fold(baseExt)(
      extPath => baseExt.unionByName(
        spark.read.parquet(extPath)
          .dropDuplicates(dims.map(_._1) :+ "version")
          .filter(col("version") > foldedTo &&
            upTo.fold(lit(true))(v => col("version") <= v))
          .select(dimCols ++ extNames.map(col) :+ col("version"): _*)))
    rows.groupBy(dimCols: _*)
      .agg(max_by(col(extNames.head), col("version")).as(extNames.head),
        extNames.tail.map(n => max_by(col(n), col("version")).as(n)): _*)
  }

  /** Per-(group, version) ABSOLUTE extremes for every committed version
    * in (from, head] — the non-additive half of a refresh window.
    *
    * Cost model (the documented min/max trade): a version that only
    * INSERTS into a group folds monotonically — the new extreme is
    * least/greatest of the running state and the inserted values, O(that
    * version's changed docs). A version that RETRACTS from a group (a
    * delete, or an LWW update replacing a text) may have removed the
    * value attaining the extreme, which signed algebra cannot undo — so
    * retraction-touched (group, version) pairs are RE-AGGREGATED from
    * the visible set at that version. The recompute costs ONE corpus
    * snapshot scan per refresh WINDOW, however many retraction versions
    * the window carries: docs the window never touched are CONSTANT
    * across (from, head], so their per-group extremes are aggregated
    * once from the head snapshot (map-side filtered to the touched
    * groups under a broadcast semi-join — the corpus is never shuffled),
    * while the touched docs' state at each retraction version is
    * derived from the window's own history (each committed state is
    * visible [its epoch, the doc's next epoch) — a window-sized interval
    * join against the retraction versions) and merged in. A
    * delete-storm catch-up over V takedown epochs therefore pays the
    * same single scan as one takedown — scans per window are O(1), not
    * O(V) (SCALING.md "Round-15: delete storm"). Insert-only windows pay
    * no scan at all. */
  private def windowExtRows(spark: SparkSession, dir: String,
      corpusDir: String, viewDir: String, seq: DataFrame, from: Long,
      head: Long, baseRows: DataFrame, foldedTo: Long,
      dims: Seq[(String, String)],
      mins: Seq[(String, String)], maxs: Seq[(String, String)],
      dists: Seq[(String, String)],
      quants: Seq[(String, String, Double)],
      baseCols: Seq[String],
      unchangedInputs: Option[() => DataFrame] = None): DataFrame = {
    val dimNames = dims.map(_._1)
    val dimCols = dimNames.map(col)
    val extNames = (mins ++ maxs ++ dists).map(_._1) ++ quants.map(_._1)
    def extAgg(df: DataFrame, by: Seq[Column]): DataFrame = {
      val aggs = mins.map(m => min(col(m._1)).as(m._1)) ++
        maxs.map(m => max(col(m._1)).as(m._1)) ++
        dists.map(m => hll_sketch_agg(col(m._1)).as(m._1)) ++
        quantBuildAggs(quants)
      df.groupBy(by: _*).agg(aggs.head, aggs.tail: _*)
    }
    val extInputs = exprs(dims ++ mins ++ maxs ++ dists) ++
      quantInputCols(quants)
    // inserted values per (group, version)
    val ins = seq.filter(!col("_del"))
      .select(extInputs :+ col("epoch").as("version"): _*)
    val insExt = extAgg(ins, dimCols :+ col("version"))
      .withColumn("_kind", lit("I"))
    // retraction-touched (group, version) pairs — group membership of the
    // RETRACTED state (dims evaluated over prev_text + enrichment cols,
    // which are immutable per doc and therefore shared by both states)
    val tR = System.nanoTime()
    val retracted = seq.filter(col("prev_text").isNotNull)
      .select(Seq(col("doc_id"), col("prev_text").as("text"),
        col("epoch").as("version")) ++ baseCols.map(col): _*)
      .select(exprs(dims) :+ col("version"): _*)
      .select(dimCols :+ col("version"): _*).distinct()
      .localCheckpoint()
    if (sys.env.contains("SPARK_GRAFT_VIEW_TIMING"))
      System.err.println(s"[viewtiming]     ext.retracted=" +
        s"${(System.nanoTime() - tR) / 1000000}ms")
    // null-SAFE group joins throughout: a NULL dim value is a group of
    // its own to the sums fold (groupBy semantics), so the extremes legs
    // must select/seed it too — plain equi-joins would drop it
    def nullSafe(l: String, r: String): Column =
      dimNames.map(n => col(s"$l.$n") <=> col(s"$r.$n")).reduce(_ && _)
    val nullExtCols =
      extNames.map(n => lit(null).cast(insExt.schema(n).dataType).as(n))
    val recomputed = if (retracted.isEmpty)
      insExt.limit(0).drop("_kind").withColumn("_kind", lit("R"))
    else {
      // the ONE snapshot scan: per-group extremes of the docs this window
      // never changed — constant at every version in (from, head]. A
      // BOOTSTRAP refresh (cursor −∞) over a vacuumed lake can see
      // collapsed-history retractions BELOW the retention floor, whose
      // exact snapshots are gone — the floor clamps the scan: the served
      // head stays exact (the final fold governs), per-version ext rows
      // below the floor are as-of-surviving-history approximations, the
      // same degraded-history contract the floor already imposes on
      // every time-travel read
      val touchedAll = retracted.select(dimCols: _*).distinct()
      // shared-scan fast path ([[refreshViews]] fan-out): the snapshot's
      // ext-input projection was already computed ONCE for every ext view
      // in this window — consume the slice instead of re-scanning the
      // corpus per view (guide §8: every scan but the last moves a narrow
      // proxy). The solo path below is plan-identical to what the shared
      // frame materializes, so served rows are byte-equal either way.
      val unchangedSrc = unchangedInputs.map(_()).getOrElse {
        extSnapshotScans.incrementAndGet()
        val snapFloor = CorpusLake.retentionFloor(spark, corpusDir)
        val changedIds = seq.select(col("doc_id")).distinct()
        enrich(spark, dir,
            CorpusLake.readCorpusAt(spark, dir, corpusDir,
                Some(math.max(head, snapFloor)))
              .join(changedIds, Seq("doc_id"), "left_anti"),
            baseCols)
          .select(extInputs: _*)
      }
      val unchangedExt = extAgg(
        unchangedSrc.alias("v")
          .join(broadcast(touchedAll.alias("t")), nullSafe("v", "t"),
            "left_semi"),
        dimCols)
      // the touched docs' committed state at each retraction version,
      // derived from the window's own history: each state is visible
      // [its epoch, the doc's next epoch); the state each doc ENTERED the
      // window with (the first window row's prev_text — exactly the
      // latest pre-window winner, null when the doc was absent or
      // tombstoned at `from`) opens at −∞. All frames here are
      // window-sized; the versions join is a broadcast interval join.
      val stateCols = Seq(col("doc_id"), col("text"), col("epoch"),
        col("_del")) ++ baseCols.map(col)
      val docW = Window.partitionBy(col("doc_id")).orderBy(col("epoch"))
      val entering = seq
        .withColumn("_rn", row_number().over(docW))
        .filter(col("_rn") === 1 && col("prev_text").isNotNull)
        .select(Seq(col("doc_id"), col("prev_text").as("text"),
          lit(Long.MinValue).as("epoch"), lit(false).as("_del")) ++
          baseCols.map(col): _*)
      val versions = retracted.select(col("version")).distinct()
      val statesAtV = seq.select(stateCols: _*).unionByName(entering)
        .withColumn("_until",
          coalesce(lead(col("epoch"), 1).over(docW), lit(Long.MaxValue)))
        .filter(!col("_del"))
        .join(broadcast(versions),
          col("epoch") <= col("version") && col("version") < col("_until"))
        .select(extInputs :+ col("version"): _*)
      // keep only the states in groups actually touched at that version —
      // the recompute replaces the running state for exactly those pairs
      val changedExt = extAgg(
        statesAtV.alias("c").join(broadcast(retracted.alias("t")),
          nullSafe("c", "t") && col("c.version") === col("t.version"),
          "left_semi"),
        dimCols :+ col("version"))
      // merge the constant unchanged-docs extremes into every touched
      // (group, version); the all-null seed keeps pairs whose visible set
      // EMPTIED — an explicit null-extreme row resets the running state,
      // so a later re-insert starts fresh instead of resurrecting a
      // vacated extreme
      val unchangedAtV = retracted.alias("t")
        .join(unchangedExt.alias("u"), nullSafe("t", "u"))
        .select(dimNames.map(n => col(s"t.$n").as(n)) ++
          extNames.map(n => col(s"u.$n")) :+
          col("t.version").as("version"): _*)
      val nullSeed = retracted.select(
        dimCols ++ nullExtCols :+ col("version"): _*)
      val mergeAggs = mins.map(m => min(col(m._1)).as(m._1)) ++
        maxs.map(m => max(col(m._1)).as(m._1)) ++
        dists.map(m => hll_union_agg(col(m._1)).as(m._1)) ++
        quants.map { case (a, _, _) =>
          graft.functions.QSketch.unionAgg(col(a)).as(a) }
      nullSeed.unionByName(unchangedAtV).unionByName(changedExt)
        .groupBy(dimCols :+ col("version"): _*)
        .agg(mergeAggs.head, mergeAggs.tail: _*)
        .withColumn("_kind", lit("R"))
    }
    // a recomputed (group, version) already includes that version's
    // inserts — its insert row must not also fold in
    val insOnly = insExt.join(
      recomputed.select(dimCols :+ col("version"): _*),
      dimNames :+ "version", "left_anti")
    // seed: the running state each group entered the window with
    val touchedGroups = seq.filter(!col("_del"))
      .select(exprs(dims): _*)
      .unionByName(retracted.select(dimCols: _*)).distinct().alias("t")
    val seed = extStateAt(spark, viewDir, baseRows, foldedTo, dims,
        extNames, upTo = Some(from)).alias("s0")
      .join(touchedGroups, nullSafe("s0", "t"), "left_semi")
      .withColumn("version", lit(from)).withColumn("_kind", lit("R"))
    // fold: per (group, version v), the absolute extreme is the combine
    // of the latest reset (recompute/seed) at-or-below v with every
    // insert row after it — associative min/max over a self-join of the
    // window's touched rows only (tiny), no corpus anywhere
    val tRows = System.nanoTime()
    val rows0 = insOnly.unionByName(recomputed).unionByName(seed)
    // env-gated plan dump (SPARK_GRAFT_VIEW_PLANS=1): this union carries
    // the recompute leg BEFORE its checkpoint — the committed evidence
    // for the shared-scan contract (solo: parquet scans of the corpus
    // under the anti-join; fan-out: the one shared checkpointed
    // projection's ExistingRDD instead)
    if (sys.env.contains("SPARK_GRAFT_VIEW_PLANS"))
      System.err.println(s"[viewplan] view=$viewDir shared=" +
        s"${unchangedInputs.isDefined}\n" +
        rows0.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    val rows = rows0.localCheckpoint()
    if (sys.env.contains("SPARK_GRAFT_VIEW_TIMING"))
      System.err.println(s"[viewtiming]     ext.rows=" +
        s"${(System.nanoTime() - tRows) / 1000000}ms")
    val w = Window.partitionBy(dimCols: _*).orderBy(col("version"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val a = rows.withColumn("_reset",
        coalesce(max(when(col("_kind") === "R", col("version"))).over(w),
          lit(Long.MinValue)))
      .select(dimCols ++ Seq(col("version"), col("_reset")): _*).alias("a")
    val b = rows.alias("b")
    val joinCond = dimNames.map(n => col(s"a.$n") <=> col(s"b.$n"))
      .reduce(_ && _) &&
      col("b.version") <= col("a.version") &&
      (col("b.version") > col("a._reset") ||
        (col("b._kind") === "R" && col("b.version") === col("a._reset")))
    // the fold combine per kind: least/greatest for extremes, sketch
    // union for approx-distinct (a reset row's sketch REPLACES history —
    // rows before the reset are excluded by the join condition, so the
    // union only ever merges the reset state with later insert sketches)
    val aggList = mins.map(m => min(col(s"b.${m._1}")).as(m._1)) ++
      maxs.map(m => max(col(s"b.${m._1}")).as(m._1)) ++
      dists.map(m => hll_union_agg(col(s"b.${m._1}")).as(m._1)) ++
      quants.map { case (a, _, _) =>
        graft.functions.QSketch.unionAgg(col(s"b.$a")).as(a) }
    a.join(b, joinCond)
      .groupBy(dimNames.map(n => col(s"a.$n").as(n)) :+
        col("a.version").as("version"): _*)
      .agg(aggList.head, aggList.tail: _*)
      .filter(col("version") > from)
  }

  /** Count of [[changedHistory]] builds — the shared-scan contract's
    * observable: `refreshViews` over N views must bump this ONCE, not N
    * times. Test instrumentation only (monotonic, never read by the
    * maintenance logic). */
  private[graft] val historyScans = new java.util.concurrent.atomic.AtomicLong

  /** Count of retraction-recompute SNAPSHOT scans ([[windowExtRows]]'
    * `readCorpusAt(head) ANTI changedIds` leg) — the ext-share contract's
    * observable: a `refreshViews` window over N same-cursor ext views must
    * bump this ONCE, a solo refresh once per view. Test instrumentation
    * only. */
  private[graft] val extSnapshotScans =
    new java.util.concurrent.atomic.AtomicLong

  /** The floor refusal every refresh runs: a cursor below the retention
    * floor lost the history its retractions need. */
  private def requireAboveFloor(spark: SparkSession, viewDir: String,
      from: Long, floor: Long): Unit =
    require(from >= floor ||
        (from == Long.MinValue &&
          Artifact.find(spark, viewDir, "delta").isEmpty),
      s"view cursor $from predates the retention floor $floor: the " +
        "history this window's retractions need was vacuumed — rebuild " +
        "the view instead")

  /** One view's (from, h] window over a prebuilt history frame: delta
    * append, ext append (non-additive measures only), cursor write LAST
    * ([[LakeCursor.write]]). `seq` must be the changed-docs history of a
    * window STARTING AT OR BELOW `from` (rows with epoch ≤ from are
    * filtered here — prev_text stays exact because the lag ran over the
    * full history), carrying at least this view's enrichment columns. */
  private def refreshOne(spark: SparkSession, dir: String,
      corpusDir: String, viewDir: String, spec: ViewSpec, from: Long,
      h: Long, seq0: DataFrame, sharedHistory: Boolean,
      unchangedInputs: Option[() => DataFrame] = None): Unit = {
    val ViewSpec(dims, sums0, mins, maxs, avgs, dists, quants, baseCols) =
      spec
    val measures = internalSums(sums0, avgs)
    val hasExt = mins.nonEmpty || maxs.nonEmpty || dists.nonEmpty ||
      quants.nonEmpty
    // the ext leg re-reads the window's history several times (insert
    // rows, retraction pairs, per-version state intervals) — materialize
    // the window-sized frame once instead of re-running the lake scans
    // per use; a shared (refreshViews) history is already materialized
    val seq1 = if (hasExt && !sharedHistory) seq0.localCheckpoint() else seq0
    val seq = seq1.filter(col("epoch") > from)
    val tDelta = System.nanoTime()
    windowDeltas(seq, dims, measures, baseCols)
      .write.mode("append").parquet(Artifact.resolve(spark, viewDir, "delta"))
    if (sys.env.contains("SPARK_GRAFT_VIEW_TIMING"))
      System.err.println(s"[viewtiming]   delta leg=" +
        s"${(System.nanoTime() - tDelta) / 1000000}ms view=$viewDir")
    if (hasExt) {
      // crash between the two appends replays the window; both legs
      // are deterministic per version, so the read-side
      // (dims, version) dedups collapse the duplicates (sketch
      // binaries included — hll_sketch_agg is deterministic for a
      // given input set) identically
      val tExt = System.nanoTime()
      val (baseRows, foldedTo) = baseAndWatermark(spark, viewDir)
      windowExtRows(spark, dir, corpusDir, viewDir, seq,
          from, h, baseRows, foldedTo, dims, mins, maxs, dists, quants,
          baseCols, unchangedInputs)
        .write.mode("append").parquet(Artifact.resolve(spark, viewDir, "ext"))
      if (sys.env.contains("SPARK_GRAFT_VIEW_TIMING"))
        System.err.println(s"[viewtiming]   ext leg=" +
          s"${(System.nanoTime() - tExt) / 1000000}ms view=$viewDir")
    }
    LakeCursor.write(spark, viewDir, "cursor", h)
  }

  /** Consume the lake's commits past the cursor into signed delta rows —
    * the profile refresh generalized; same floor-refusal, same
    * cursor-written-LAST crash ordering, same idempotent replay. The
    * one-view case of [[refreshViews]]. `upTo` = bounded catch-up
    * (consume history in operator-sized bites); the per-version delta
    * rows are identical however the window is split, so any split serves
    * the same view. Returns the (from, to] window, or None at the lake
    * head. */
  def refreshViewFromLake(spark: SparkSession, dir: String,
      corpusDir: String, viewDir: String,
      upTo: Option[Long] = None,
      compactEvery: Int = 0): Option[(Long, Long)] =
    refreshWindow(spark, dir, corpusDir, Seq(viewDir), upTo, compactEvery)

  /** Auto-compaction cadence for the refresh paths: fold the view's
    * delta/ext backlog into the base once `compactEvery` lake versions
    * have accumulated past the fold watermark. Between compactions every
    * [[readView]] folds O(versions-since-fold × groups) delta rows on
    * top of the base — the stream path compacts on its optimize cadence
    * ([[CorpusLake.maintainCorpusStream]]), but a solo refresh loop
    * would otherwise grow that backlog unboundedly (the SCALING.md
    * `corpus_view_backlog` probe measures the growth). The trade:
    * compaction collapses per-version history, so [[readViewAt]] below
    * the new watermark refuses — size the cadence to the time-travel
    * depth the dashboard needs. 0 = never (the default; the governance
    * twins keep full history). */
  private def maybeAutoCompact(spark: SparkSession, viewDir: String,
      head: Long, compactEvery: Int): Unit =
    if (compactEvery > 0) {
      import spark.implicits._
      val (_, foldedTo) = baseAndWatermark(spark, viewDir)
      // a never-folded view has no watermark — seed one from its OLDEST
      // unfolded delta version so the FIRST fold also waits out the
      // cadence (folding unconditionally on the first refresh — the old
      // MinValue short-circuit — destroyed a fresh stream-attached
      // view's entire readViewAt history on refresh #1, far more
      // aggressive than the documented "once compactEvery versions have
      // accumulated"). The seed scan reads only the backlog-sized delta
      // store and only until the first fold lands a real watermark.
      val effective =
        if (foldedTo != Long.MinValue) foldedTo
        else Artifact.find(spark, viewDir, "delta").fold(head)(dPath =>
          spark.read.parquet(dPath).agg(min(col("version")))
            .as[Option[Long]].head().fold(head)(_ - 1))
      if (head - effective >= compactEvery) compactView(spark, viewDir)
    }

  /** SHARED-SCAN maintenance of MANY views over ONE lake — the dashboard
    * posture: a lake carries dozens of declared views, and refreshing
    * them one by one re-reads the same commit history once per view.
    * This computes the changed-docs history ONCE for the WIDEST window
    * (the minimum cursor, enriched with the union of every view's
    * enrichment columns), materializes it, and fans each view's
    * (cursor_i, head] slice out of it — a row with epoch ≤ cursor_i is
    * filtered per view, and `prev_text` stays exact because the lag ran
    * over the full history, so every per-view delta/ext row is
    * byte-identical to a solo [[refreshViewFromLake]] (the idempotent
    * replay determinism, reused). Views already at head write nothing.
    * Cost: one history scan + one snapshot scan per retraction-carrying
    * view window, instead of N of each. Views may sit at DIFFERENT
    * cursors (a freshly declared view bootstraps beside a warm one) —
    * but note the ONE shared history is sized by the WIDEST window (the
    * minimum cursor) and carries the union of every view's enrichment
    * columns: a far-behind bootstrapper in the batch makes every warm
    * view's refresh pay for a bootstrap-sized materialized frame in that
    * call (correctness is unaffected — per-view epoch filters keep rows
    * exact — and it converges after one catch-up). When that matters,
    * refresh far-behind views solo and share the scan among
    * cursor-proximate ones. `compactEvery` applies the
    * [[maybeAutoCompact]] cadence per refreshed view. Returns the head
    * version consumed, or None when every view is already there. */
  def refreshViews(spark: SparkSession, dir: String, corpusDir: String,
      viewDirs: Seq[String], upTo: Option[Long] = None,
      compactEvery: Int = 0): Option[Long] =
    refreshWindow(spark, dir, corpusDir, viewDirs, upTo, compactEvery)
      .map(_._2)

  /** [[refreshViews]]' body, returning the (minimum cursor, head] window
    * consumed. One view keeps the solo plan: its history is not
    * materialized up front (only [[refreshOne]]'s ext leg checkpoints it)
    * and it refreshes on the calling thread. */
  private def refreshWindow(spark: SparkSession, dir: String,
      corpusDir: String, viewDirs: Seq[String], upTo: Option[Long],
      compactEvery: Int): Option[(Long, Long)] = {
    require(viewDirs.nonEmpty, "refreshViews: no views given")
    require(viewDirs.distinct.size == viewDirs.size,
      s"refreshViews: duplicate view dirs in ${viewDirs.mkString(", ")}")
    val floor = CorpusLake.retentionFloor(spark, corpusDir)
    val states = viewDirs.map { vd =>
      val from = LakeCursor.read(spark, vd, "cursor")
      requireAboveFloor(spark, vd, from, floor)
      (vd, viewSpecFull(spark, vd), from)
    }
    val fromMin = states.map(_._3).min
    val solo = states.size == 1
    LakeCursor.headAbove(CorpusLake.manifest(spark, corpusDir), fromMin,
        upTo) match {
      case Some(h) =>
        val allBaseCols = states.flatMap(_._2.baseCols).distinct
        historyScans.incrementAndGet()
        val t0 = System.nanoTime()
        val history = changedHistory(spark, dir, corpusDir, fromMin, h,
          allBaseCols)
        val shared = if (solo) history else history.localCheckpoint()
        // ONE retraction-recompute snapshot scan per refresh window, not
        // one per ext view (the r18-measured cost split: ~3-4 s per ext
        // view per window vs ~0.5 s for purely-additive views — the
        // difference was each view's own `readCorpusAt(h) ANTI changedIds`
        // corpus scan). Ext-carrying views at the SAME cursor see the same
        // (from, h] window, hence the same changed-id set and the same
        // unchanged-docs snapshot — so their ext-input expressions are
        // projected out of a single scan into one NARROW frame (namespaced
        // aliases; `__` is refused in user aliases, so `__v<i>__` cannot
        // collide) and materialized once: the guide-§8 proxy pattern — the
        // corpus text is scanned once and only evaluated expression values
        // (dims + measure inputs, tens of bytes/row) are retained. LAZY:
        // an insert-only window never forces the scan; per-view emptiness
        // of the retraction set is window-determined, so all views in a
        // group agree on whether it is needed. Groups of ONE keep the solo
        // plan — a shared frame's materialization only pays for itself
        // when ≥2 views split the scan.
        val sharedUnchanged: Map[String, () => DataFrame] = states
          .filter { case (_, spec, from) =>
            from < h && (spec.mins.nonEmpty || spec.maxs.nonEmpty ||
              spec.dists.nonEmpty || spec.quants.nonEmpty) }
          .groupBy(_._3)
          .filter(_._2.size >= 2)
          .flatMap { case (from, group) =>
            val groupBase = group.flatMap(_._2.baseCols).distinct
            lazy val frame: DataFrame = {
              extSnapshotScans.incrementAndGet()
              val changedIds = shared.filter(col("epoch") > from)
                .select(col("doc_id")).distinct()
              val snapFloor = CorpusLake.retentionFloor(spark, corpusDir)
              val snap = CorpusLake.readCorpusAt(spark, dir, corpusDir,
                  Some(math.max(h, snapFloor)))
                .join(changedIds, Seq("doc_id"), "left_anti")
              val proj = group.zipWithIndex.flatMap { case ((_, spec, _), i) =>
                extInputPairs(spec).map { case (a, c) =>
                  c.as(s"__v${i}__$a") } }
              enrich(spark, dir, snap, groupBase)
                .select(proj: _*).localCheckpoint()
            }
            group.zipWithIndex.map { case ((vd, spec, _), i) =>
              vd -> (() => frame.select(extInputPairs(spec).map {
                case (a, _) => col(s"__v${i}__$a").as(a) }: _*))
            }
          }
        val tShared = System.nanoTime()
        // guide §2.6 (overlap independent jobs): each view's fan-out is an
        // INDEPENDENT job chain over the one materialized history — its
        // writes touch only its own view dir, its aggregates are
        // order/partitioning-independent, and its crash ordering
        // (delta → ext → cursor) lives inside its own chain. Submitting
        // them from a small pool lets view N+1's stages back-fill the
        // scheduler gaps of view N's micro-job ladder (the measured serve
        // residual: 10-15 single-stage jobs per ext view over KB-scale
        // frames) — per-view plans and results are byte-identical to the
        // sequential loop, only the wall overlaps. Pool of ≤4: enough to
        // fill the tail, not enough to thrash the scheduler (guide's own
        // sizing guidance). A failed view's exception still fails the
        // call, but only once every other view's refresh has finished:
        // other views may have completed — the same partial-progress
        // surface a sequential loop's earlier views already had — and
        // none is still writing its dir when the call returns.
        val behind = states.filter(_._3 < h)
        CorpusLake.runAll(math.min(4, behind.size),
          behind.map { case (vd, spec, from) => () => {
            val tv = System.nanoTime()
            refreshOne(spark, dir, corpusDir, vd, spec,
              from, h, shared, sharedHistory = !solo,
              unchangedInputs = sharedUnchanged.get(vd))
            maybeAutoCompact(spark, vd, h, compactEvery)
            // env-gated cost split (SPARK_GRAFT_VIEW_TIMING=1): which
            // leg of a refresh carries the cost at scale — the shared
            // history build or a per-view fan-out
            if (sys.env.contains("SPARK_GRAFT_VIEW_TIMING"))
              System.err.println(s"[viewtiming] view=$vd perView=" +
                s"${(System.nanoTime() - tv) / 1000000}ms")
          } })
        if (sys.env.contains("SPARK_GRAFT_VIEW_TIMING"))
          System.err.println(s"[viewtiming] window=($fromMin,$h] shared=" +
            s"${(tShared - t0) / 1000000}ms")
        Some((fromMin, h))
      case None => None
    }
  }

  /** The stored base aggregate and its fold watermark (−∞ pre-compaction). */
  private def baseAndWatermark(spark: SparkSession,
      viewDir: String): (DataFrame, Long) = {
    import spark.implicits._
    val bPath = Artifact.find(spark, viewDir, "base").getOrElse(
      throw new java.io.FileNotFoundException(s"$viewDir holds no view base"))
    // listing-signature memo: serves and refreshes re-open the base per
    // call (a schema-inference job plus a watermark-max job each time);
    // a compaction swaps the dir and invalidates the signature
    graft.sources.Caches.bySignature[(DataFrame, Long)](spark,
        "view_base", bPath) {
      val base = spark.read.parquet(bPath)
      if (base.columns.contains("_folded_to"))
        (base.drop("_folded_to"),
          base.agg(max(col("_folded_to"))).as[Long].head())
      else (base, Long.MinValue)
    }
  }

  /** Serve the maintained view: base + deduped signed deltas above the
    * folded-through watermark, summed per group; groups whose every
    * total cancelled to zero are dropped (a recompute never lists them).
    * O(groups·versions) in, O(groups) out. */
  def readView(spark: SparkSession, viewDir: String): DataFrame =
    readViewUpTo(spark, viewDir, None)

  /** View time travel — the view AS OF lake version `version`: fold only
    * the delta rows at or below it. Versions the compaction already
    * folded into the base are REFUSED (their per-version deltas are
    * gone — serving the head-shaped base as if it were history would be
    * silently wrong, the same contract as the lake's retention floor);
    * a version below the first consumed window serves the base-corpus
    * aggregate, which IS the view's state before any lake commit. */
  def readViewAt(spark: SparkSession, viewDir: String,
      version: Long): DataFrame =
    readViewUpTo(spark, viewDir, Some(version))

  private def readViewUpTo(spark: SparkSession, viewDir: String,
      version: Option[Long]): DataFrame = {
    val spec = viewSpecFull(spark, viewDir)
    val (avgs, dists, quants) = (spec.avgs, spec.dists, spec.quants)
    val internal = foldInternal(spark, viewDir, version, spec)
    if (avgs.isEmpty && dists.isEmpty && quants.isEmpty) internal
    else {
      // project the serve-facing derivations: avg out of its internal
      // (sum, count) pair, approx-distinct as the ESTIMATE of its HLL
      // sketch binary, quantiles as the interpolated estimate of their
      // sample sketch; no internal leaves this method
      val distNames = dists.map(_._1).toSet
      val quantNames = quants.map(_._1).toSet
      val keep = internal.columns
        .filterNot(c => avgs.exists(a => c == s"${a._1}__sum" ||
          c == s"${a._1}__cnt"))
        .filterNot(c => distNames(c) || quantNames(c))
      internal.select(keep.toSeq.map(col) ++
        avgs.map { case (a, _) =>
          when(col(s"${a}__cnt") > 0,
            col(s"${a}__sum") / col(s"${a}__cnt").cast("double"))
            .as(a)
        } ++
        dists.map { case (a, _) =>
          when(col(a).isNotNull, hll_sketch_estimate(col(a))).as(a)
        } ++
        quants.map { case (a, _, p) =>
          graft.functions.QSketch.quantile(col(a), p).as(a)
        }: _*)
    }
  }

  /** The view's INTERNAL representation at a pinned version: dims,
    * n_docs, user sums, the avg (sum, cnt) pairs, and extremes — the
    * frame compaction folds into the base (the derived avg projection
    * cannot be folded: sum/cnt must keep accumulating). */
  private def foldInternal(spark: SparkSession, viewDir: String,
      version: Option[Long], spec: ViewSpec): DataFrame = {
    // spec is threaded from the caller: a serve used to read the
    // declaration twice (once here, once in the public wrapper)
    val ViewSpec(dims, sums0, mins, maxs, avgs, dists, quants, _) = spec
    val measures = internalSums(sums0, avgs)
    val dimNames = dims.map(_._1)
    val dimCols = dimNames.map(col)
    val extNames = (mins ++ maxs ++ dists).map(_._1) ++ quants.map(_._1)
    val (baseAll, foldedTo) = baseAndWatermark(spark, viewDir)
    // select the SPEC's columns explicitly rather than dropping known
    // extras: during schema evolution the backfilled base briefly carries
    // columns the spec doesn't declare yet (base lands before the spec
    // swap — the crash-safe order), and they must not reach the union
    val baseRows = baseAll.select(
      (dimNames :+ "n_docs").map(col) ++ measures.map(m => col(m._1)): _*)
    version.foreach(v => require(v >= foldedTo,
      s"view history at $v was folded into the base (folded through " +
        s"$foldedTo) — compaction collapses per-version deltas; pin a " +
        "version >= the fold watermark"))
    val rows = Artifact.find(spark, viewDir, "delta").fold(baseRows)(
      deltaPath => baseRows.unionByName(
        spark.read.parquet(deltaPath)
          .dropDuplicates(dims.map(_._1) :+ "version")
          .filter(col("version") > foldedTo &&
            version.fold(lit(true))(v => col("version") <= v))
          // spec projection, like the base: evolution can leave the
          // stores briefly wider than the declaration
          .select((dimNames :+ "n_docs").map(col) ++
            measures.map(m => col(m._1)): _*)))
    val zeroed = (col("n_docs") === 0) +:
      measures.map(m => col(m._1) === 0)
    val sums = rows.groupBy(dimCols: _*)
      .agg(sum(col("n_docs")).as("n_docs"),
        measures.map(m => sum(col(m._1)).as(m._1)): _*)
      .filter(!zeroed.reduce(_ && _))
    if (extNames.isEmpty) sums
    else {
      // extremes ride beside the sums: the latest absolute ext row per
      // group at-or-below the pinned version (group-sized, no corpus) —
      // null-safe on the dims so a null group keeps its extremes
      val ext = extStateAt(spark, viewDir, baseAll, foldedTo, dims,
        extNames, version)
      val s = sums.alias("s")
      val e = ext.alias("e")
      s.join(e,
          dimNames.map(n => col(s"s.$n") <=> col(s"e.$n")).reduce(_ && _),
          "left")
        .select(dimNames.map(n => col(s"s.$n").as(n)) ++
          (Seq("n_docs") ++ measures.map(_._1)).map(n => col(s"s.$n")) ++
          extNames.map(n => col(s"e.$n")): _*)
    }
  }

  /** Fold the delta rows into the base under the `_folded_to` watermark —
    * the profile compaction generalized; serving before ≡ after at every
    * crash point, truncation bounded by the watermark. Run from the
    * maintenance cadence like every rewrite. */
  def compactView(spark: SparkSession, viewDir: String): Unit = {
    import spark.implicits._
    val deltaPath = Artifact.find(spark, viewDir, "delta").getOrElse(return)
    val head = spark.read.parquet(deltaPath)
      .agg(max(col("version"))).as[Option[Long]].head()
    head.foreach { h =>
      // fold the INTERNAL representation — sums, avg (sum, cnt) pairs,
      // extremes — so the rewritten base carries everything the serve
      // and seed paths keep accumulating from (the derived avg columns
      // are a projection, never folded)
      Artifact.publish(
        foldInternal(spark, viewDir, None, viewSpecFull(spark, viewDir))
          .withColumn("_folded_to", lit(h)), viewDir, "base")
      Artifact.publish(spark.read.parquet(deltaPath)
        .filter(col("version") > h), viewDir, "delta")
      Artifact.find(spark, viewDir, "ext").foreach(extPath =>
        Artifact.publish(spark.read.parquet(extPath)
          .filter(col("version") > h), viewDir, "ext"))
    }
  }

  /** Schema evolution: ADD measures to a live view without a rebuild —
    * the week-two dashboard ask ("one more metric") answered with one
    * bounded backfill instead of a drop-and-recreate that loses nothing
    * but costs a full history replay.
    *
    * Protocol (each step crash-safe, in this order):
    *   1. [[compactView]] — fold every consumed delta/ext row into the
    *      base, so the view's whole state lives in ONE frame keyed by
    *      group; then drop the emptied delta/ext stores so later appends
    *      cannot mix pre- and post-evolution parquet schemas in one dir.
    *   2. Backfill — ONE aggregate of the new measures over the lake's
    *      visible set at the view's cursor (the base corpus when never
    *      refreshed), null-safe-joined onto the base groups, written
    *      through the `base` swap. The base now carries columns the spec
    *      does not declare yet — readers project spec columns only, so
    *      this intermediate state serves exactly the old view.
    *   3. Spec swap — the new declaration lands; the next read serves
    *      the new columns, the next refresh maintains them.
    *
    * Time travel across the evolution boundary is folded history by
    * construction (step 1), so it refuses with the standard watermark
    * contract rather than serving a half-declared past. */
  def addMeasures(spark: SparkSession, dir: String, corpusDir: String,
      viewDir: String,
      measures: Seq[(String, String)] = Nil,
      minMeasures: Seq[(String, String)] = Nil,
      maxMeasures: Seq[(String, String)] = Nil,
      avgMeasures: Seq[(String, String)] = Nil,
      distinctMeasures: Seq[(String, String)] = Nil,
      quantileMeasures: Seq[(String, String, Double)] = Nil): Unit = {
    import spark.implicits._
    val ViewSpec(dims, sums0, mins0, maxs0, avgs0, dists0, quants0,
        baseCols) = viewSpecFull(spark, viewDir)
    val quantPairs = quantileMeasures.map(q => (q._1, q._2))
    val added = measures ++ minMeasures ++ maxMeasures ++ avgMeasures ++
      distinctMeasures ++ quantPairs
    require(added.nonEmpty, "addMeasures: nothing to add")
    quantileMeasures.foreach { case (a, _, p) => require(p >= 0 && p <= 1,
      s"quantile measure '$a': p must be in [0,1], got $p") }
    val existing =
      (dims ++ sums0 ++ mins0 ++ maxs0 ++ avgs0 ++ dists0).map(_._1).toSet ++
        quants0.map(_._1) ++ baseCols
    added.map(_._1).foreach(a => require(
      !Reserved(a) && a.nonEmpty && !a.contains("__") && !existing(a),
      s"alias '$a' is reserved, empty, internal, or already declared"))
    // analysis-time validation, as at create (enrichment columns in scope)
    Tables.spread(Tables.documents(spark, dir))
      .select((Seq("doc_id", "text") ++ baseCols).map(col): _*).limit(0)
      .select(exprs(added): _*)
    // 1. fold everything, then drop the emptied append stores (mixing
    // old- and new-schema files in one parquet dir would make unmerged
    // reads schema-lottery)
    foldAndDrainStores(spark, viewDir, "addMeasures")
    // 2. backfill the new measures at the view's cursor
    val cursor = LakeCursor.read(spark, viewDir, "cursor")
    val source = enrich(spark, dir,
      if (cursor == Long.MinValue)
        Tables.spread(Tables.documents(spark, dir))
          .select(col("doc_id"), col("text"))
      else CorpusLake.readCorpusAt(spark, dir, corpusDir, Some(cursor))
        .select(col("doc_id"), col("text")), baseCols)
    val newInternal = internalSums(measures, avgMeasures)
    val newAggs =
      newInternal.map(m => sum(col(m._1)).as(m._1)) ++
      minMeasures.map(m => min(col(m._1)).as(m._1)) ++
      maxMeasures.map(m => max(col(m._1)).as(m._1)) ++
      distinctMeasures.map(m => hll_sketch_agg(col(m._1)).as(m._1)) ++
      quantBuildAggs(quantileMeasures)
    val dimNames = dims.map(_._1)
    val backfill = source
      .select(exprs(dims ++ newInternal ++ minMeasures ++ maxMeasures ++
        distinctMeasures) ++ quantInputCols(quantileMeasures): _*)
      .groupBy(dimNames.map(col): _*)
      .agg(newAggs.head, newAggs.tail: _*).alias("bf")
    val base = spark.read.parquet(
      Artifact.resolve(spark, viewDir, "base")).alias("b")
    Artifact.publish(base.join(backfill,
        dimNames.map(n => col(s"b.$n") <=> col(s"bf.$n")).reduce(_ && _),
        "left")
      .select(col("b.*") +:
        ((newInternal ++ minMeasures ++ maxMeasures ++ distinctMeasures)
          .map(_._1) ++ quantileMeasures.map(_._1))
          .map(n => col(s"bf.$n").as(n)): _*), viewDir, "base")
    // 3. the new declaration lands LAST
    writeSpec(spark, viewDir, dims, sums0 ++ measures,
      mins0 ++ minMeasures, maxs0 ++ maxMeasures, avgs0 ++ avgMeasures,
      dists0 ++ distinctMeasures, quants0 ++ quantileMeasures, baseCols)
  }

  /** Schema evolution: DROP measures (dims cannot be dropped — they key
    * the stored aggregates). Folds + drains like [[addMeasures]] — one
    * parquet dir must never mix pre- and post-evolution file schemas —
    * then the spec stops declaring the aliases; their stale base columns
    * are projected away on read and vanish at the next fold. */
  def dropMeasures(spark: SparkSession, viewDir: String,
      aliases: Seq[String]): Unit = {
    val ViewSpec(dims, sums0, mins0, maxs0, avgs0, dists0, quants0,
        baseCols0) = viewSpecFull(spark, viewDir)
    val drop = aliases.toSet
    require(aliases.nonEmpty, "dropMeasures: nothing to drop")
    val known = (sums0 ++ mins0 ++ maxs0 ++ avgs0 ++ dists0).map(_._1).toSet ++
      quants0.map(_._1)
    require(drop.subsetOf(known),
      s"dropMeasures: unknown measure(s) ${drop.diff(known).mkString(", ")}" +
        " (dims cannot be dropped)")
    foldAndDrainStores(spark, viewDir, "dropMeasures")
    writeSpec(spark, viewDir, dims,
      sums0.filterNot(m => drop(m._1)), mins0.filterNot(m => drop(m._1)),
      maxs0.filterNot(m => drop(m._1)), avgs0.filterNot(m => drop(m._1)),
      dists0.filterNot(m => drop(m._1)), quants0.filterNot(m => drop(m._1)),
      baseCols0)
    // physically retire the dropped columns (avg measures live in the
    // base as their internal pair) — a groups-sized rewrite AFTER the
    // spec swap, so a crash in between only leaves stale columns that
    // every read already projects away
    val physical = aliases.flatMap(a =>
      if (avgs0.exists(_._1 == a)) Seq(s"${a}__sum", s"${a}__cnt")
      else Seq(a))
    Artifact.publish(spark.read.parquet(Artifact.resolve(spark, viewDir,
      "base")).drop(physical: _*), viewDir, "base")
  }

  /** Fold every consumed delta/ext row into the base, then delete the
    * emptied append stores — the pre-evolution quiesce that keeps each
    * store's parquet schema uniform across a declaration change. */
  private def foldAndDrainStores(spark: SparkSession, viewDir: String,
      op: String): Unit = {
    compactView(spark, viewDir)
    Seq("delta", "ext").foreach { n =>
      Artifact.find(spark, viewDir, n).foreach { p =>
        require(spark.read.parquet(p).isEmpty,
          s"$op: $n still holds unfolded rows after the fold")
        Artifact.drop(spark, viewDir, n)
      }
    }
  }

  /** Rewrite the spec through [[Artifact.publish]] (readers resolve). */
  private def writeSpec(spark: SparkSession, viewDir: String,
      dims: Seq[(String, String)], sums: Seq[(String, String)],
      mins: Seq[(String, String)], maxs: Seq[(String, String)],
      avgs: Seq[(String, String)], dists: Seq[(String, String)],
      quants: Seq[(String, String, Double)],
      baseCols: Seq[String]): Unit = {
    import spark.implicits._
    Artifact.publish(Seq((dims.map(_._1), dims.map(_._2), sums.map(_._1),
        sums.map(_._2), mins.map(_._1), mins.map(_._2), maxs.map(_._1),
        maxs.map(_._2), avgs.map(_._1), avgs.map(_._2), dists.map(_._1),
        dists.map(_._2), quants.map(_._1), quants.map(_._2),
        quants.map(_._3), baseCols))
      .toDF("dim_names", "dim_exprs", "measure_names", "measure_exprs",
        "min_names", "min_exprs", "max_names", "max_exprs",
        "avg_names", "avg_exprs", "dist_names", "dist_exprs",
        "q_names", "q_exprs", "q_ps", "base_cols")
      .coalesce(1), viewDir, "spec")
  }

  /** DESCRIBE VIEW — the declaration as data: one row per output column
    * with its measure kind and source expression (the implicit `n_docs`
    * included), the introspection surface a catalog listing reads. */
  def describeView(spark: SparkSession, viewDir: String): DataFrame = {
    import spark.implicits._
    val ViewSpec(dims, sums0, mins, maxs, avgs, dists, quants, baseCols) =
      viewSpecFull(spark, viewDir)
    (baseCols.map(c => (c, "enrichment_input", c)) ++
      dims.map { case (a, e) => (a, "dim", e) } ++
      Seq(("n_docs", "count", "1")) ++
      sums0.map { case (a, e) => (a, "sum", e) } ++
      mins.map { case (a, e) => (a, "min", e) } ++
      maxs.map { case (a, e) => (a, "max", e) } ++
      avgs.map { case (a, e) => (a, "avg", e) } ++
      dists.map { case (a, e) => (a, "approx_distinct", e) } ++
      quants.map { case (a, e, p) => (a, s"quantile(p=$p)", e) })
      .toDF("column", "kind", "expr")
  }

  /** The view's operational facts, lakeStats-shaped (metric, value):
    * consumed cursor, fold watermark, and the store row counts a
    * maintenance cadence trends (delta/ext accretion since the last
    * fold). KB-scale reads only. */
  def viewStats(spark: SparkSession, viewDir: String): DataFrame = {
    import spark.implicits._
    def rowsIn(name: String): Long =
      Artifact.find(spark, viewDir, name).fold(0L)(p =>
        try spark.read.parquet(p).count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L })
    val cursor = LakeCursor.read(spark, viewDir, "cursor")
    val (_, foldedTo) = baseAndWatermark(spark, viewDir)
    Seq(("cursor", cursor), ("folded_to", foldedTo),
      ("base_groups", rowsIn("base")),
      ("delta_rows", rowsIn("delta")), ("ext_rows", rowsIn("ext")))
      .toDF("metric", "value")
  }

  /** The non-additive twin: the same delete-lifecycle lake maintained
    * through a view that declares MIN/MAX measures and an AVG (the
    * internal signed (sum, cnt) pair) beside a sum. The
    * lifecycle exercises every extremes path: the LWW-update epoch
    * retracts texts (recompute leg), the deleteDocs epoch vacates group
    * extremes (recompute finds the survivor), the re-admission epoch is
    * insert-only (monotone fold), and the mid-stream compaction folds
    * ext rows into the base under the watermark. DuckDB recomputes
    * min/max directly from the final visible set. */
  /** The delete-lifecycle view FAMILY the oracled twins read: five views
    * — sums, min/max+avg, approx-distinct, quantile, top-k-composition —
    * declared over the ONE [[CorpusLake.deleteLake]] and maintained by
    * the SHARED refresh path on the twins' standard schedule (consume
    * the LWW-update epoch, compact, consume the delete + re-admission
    * epochs). This is the dashboard multiplicity the engine is built
    * for, so the fixture exercises [[refreshViews]] at realistic
    * fan-out (two history builds for five views) instead of five solo
    * lifecycles; per-view rows are byte-identical to solo refreshes
    * (the fan-out determinism `LakeViewSpec` pins against solo twins
    * store-for-store), so each twin's oracle is unchanged. The evolve
    * twin stays on SOLO refreshes — its mid-stream `addMeasures` needs
    * an interleaved schedule, and it keeps the solo path exercised. */
  private def familyViews(spark: SparkSession,
      dir: String): Map[String, String] = {
    val lake = CorpusLake.deleteLake(spark, dir)
    graft.sources.Caches.memoizedValue[Map[String, String]](spark,
        s"corpus-view-family|$dir") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-lake-view-family").toString
      val bucket = "bucket" -> "CAST(doc_id % 7 AS INT)"
      val chars = "chars" -> "CAST(length(text) AS BIGINT)"
      val vs = Map(
        "sums" -> s"$root/sums", "minmax" -> s"$root/minmax",
        "distinct" -> s"$root/distinct", "quantile" -> s"$root/quantile",
        "topk" -> s"$root/topk")
      createView(spark, dir, vs("sums"),
        dims = Seq(bucket),
        measures = Seq(chars,
          "toks" -> "CAST(size(split(text, ' ')) AS BIGINT)"))
      createView(spark, dir, vs("minmax"),
        dims = Seq(bucket),
        measures = Seq(chars),
        minMeasures = Seq(
          "min_chars" -> "CAST(length(text) AS BIGINT)"),
        maxMeasures = Seq(
          "max_chars" -> "CAST(length(text) AS BIGINT)",
          "max_toks" -> "CAST(size(split(text, ' ')) AS BIGINT)"),
        avgMeasures = Seq(
          "avg_toks" -> "CAST(size(split(text, ' ')) AS BIGINT)"))
      createView(spark, dir, vs("distinct"),
        dims = Seq(bucket),
        measures = Seq(chars),
        distinctMeasures = Seq(
          "d_ids" -> "CAST(doc_id AS STRING)",
          "d_tok1" -> "split(text, ' ')[0]"))
      createView(spark, dir, vs("quantile"),
        dims = Seq(bucket),
        measures = Seq(chars),
        quantileMeasures = Seq(
          ("p50_chars", "CAST(length(text) AS DOUBLE)", 0.5),
          ("p90_load",
            "CAST(length(text) + CASE WHEN doc_id % 9 = 2 THEN 100000 ELSE 0 END AS DOUBLE)",
            0.9)))
      createView(spark, dir, vs("topk"),
        dims = Seq(bucket, "tok1" -> "split(text, ' ')[0]"),
        measures = Nil)
      val all = vs.values.toSeq.sorted
      refreshViews(spark, dir, lake, all, upTo = Some(0L))
      all.foreach(compactView(spark, _))
      refreshViews(spark, dir, lake, all)
      vs
    }
  }

  def viewMinMaxTwin(spark: SparkSession, dir: String): DataFrame =
    readView(spark, familyViews(spark, dir)("minmax"))
      .orderBy(col("bucket"))

  /** The schema-evolution twin: a sums-only view consumes the LWW-update
    * epoch, then [[addMeasures]] grafts a max and an avg onto the LIVE
    * view (fold → backfill at the cursor → spec swap), then the delete +
    * re-admission epochs maintain the evolved measures — the delete
    * exercises the retraction-recompute leg for a measure that did not
    * exist at create time. DuckDB recomputes everything from the final
    * visible set; hash equality pins that an evolved view is
    * indistinguishable from one declared up front. */
  def viewEvolveTwin(spark: SparkSession, dir: String): DataFrame =
    readView(spark, evolveViewDir(spark, dir)).orderBy(col("bucket"))

  /** [[viewEvolveTwin]]'s memoized lifecycle build (deliberately
    * SOLO-refreshed: the mid-stream addMeasures needs an interleaved
    * schedule). */
  private def evolveViewDir(spark: SparkSession, dir: String): String = {
    val lake = CorpusLake.deleteLake(spark, dir)
    graft.sources.Caches.memoizedValue[String](spark,
        s"corpus-view-evolve|$dir") {
      val v = java.nio.file.Files
        .createTempDirectory("graft-lake-view-evolve").toString + "/view"
      createView(spark, dir, v,
        dims = Seq("bucket" -> "CAST(doc_id % 7 AS INT)"),
        measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"))
      refreshViewFromLake(spark, dir, lake, v, upTo = Some(0L))
      addMeasures(spark, dir, lake, v,
        maxMeasures = Seq("max_chars" -> "CAST(length(text) AS BIGINT)"),
        avgMeasures = Seq("avg_chars" -> "CAST(length(text) AS BIGINT)"))
      refreshViewFromLake(spark, dir, lake, v)
      v
    }
  }

  /** The approx-distinct twin: a view declaring HLL-sketch distinct
    * measures over the delete-lifecycle lake — the delete epoch shrinks
    * the per-group distinct-id count by ~8%, so a sketch that failed to
    * recompute on retraction (the thing HLL alone cannot do) blows the
    * 5% accuracy bound and fails the flags. Output follows the repo's
    * sketch-oracle convention: EXACT counts (recomputed from the lake
    * head, which DuckDB re-derives) plus literal-TRUE accuracy flags —
    * the estimate itself is engine-specific and never hashed. */
  def viewDistinctTwin(spark: SparkSession, dir: String): DataFrame = {
    val lake = CorpusLake.deleteLake(spark, dir)
    val viewDir = familyViews(spark, dir)("distinct")
    val served = readView(spark, viewDir)
      .select(col("bucket"), col("n_docs"),
        col("d_ids").as("d_ids_est"), col("d_tok1").as("d_tok1_est"))
    val exact = CorpusLake.readCorpusAt(spark, dir, lake)
      .select(expr("CAST(doc_id % 7 AS INT)").as("bucket"),
        expr("CAST(doc_id AS STRING)").as("i"),
        expr("split(text, ' ')[0]").as("t"))
      .groupBy(col("bucket"))
      .agg(countDistinct(col("i")).as("d_ids_exact"),
        countDistinct(col("t")).as("d_tok1_exact"))
    def ok(est: Column, ex: Column): Column =
      abs(est.cast("double") - ex.cast("double")) <=
        greatest(lit(1.0), ex.cast("double") * 0.05)
    served.join(exact, Seq("bucket"))
      .select(col("bucket"), col("n_docs"),
        col("d_ids_exact"), col("d_tok1_exact"),
        ok(col("d_ids_est"), col("d_ids_exact")).as("d_ids_ok"),
        ok(col("d_tok1_est"), col("d_tok1_exact")).as("d_tok1_ok"))
      .orderBy(col("bucket"))
  }

  /** The quantile-measure twin: the delete-lifecycle lake maintained
    * through a view declaring interpolated-quantile measures — p50 of
    * length, and p90 of a length whose to-be-deleted band (ids ≡2 mod 9)
    * is shifted +100000, so the delete epoch moves p90 OUT of the band:
    * only the retraction re-sketch can serve it (a stale sketch stays
    * ~100000 high). Every fixture bucket is under the 4096-occurrence
    * sample capacity, so the sketch holds the whole multiset and the
    * served estimates EQUAL exact interpolated percentiles — the oracle
    * compares VALUES (6dp, the q19_percentile cross-engine convention),
    * a strictly stronger gate than the sketch accuracy-flag convention;
    * the sampled (above-capacity) regime is pinned by QSketchSpec and,
    * end-to-end at the 40k sparse scale point (every bucket > K), by
    * `tools/check_quant_band.py` — exact value equality per group at or
    * below capacity, rank-banded containment (±4σ, σ=√(p(1−p)/K))
    * above it (COVERAGE.md records the sweep). */
  def viewQuantileTwin(spark: SparkSession, dir: String): DataFrame = {
    val viewDir = familyViews(spark, dir)("quantile")
    readView(spark, viewDir)
      .select(col("bucket"), col("n_docs"), col("chars"),
        round(col("p50_chars"), 6).as("p50_chars"),
        round(col("p90_load"), 6).as("p90_load"))
      .orderBy(col("bucket"))
  }

  /** The top-k composition twin: "top values per group" needs NO new
    * measure kind — declare the value as a second DIMENSION and rank the
    * group sizes at serve time. The view maintains (bucket, first-token)
    * counts incrementally through the delete lifecycle (an LWW update or
    * delete retracts one (dims, version) row — O(changes), the value
    * cardinality never forces a recompute), and the serve-side
    * row_number window runs over the GROUPS frame, not the corpus. Ties
    * break by token — deterministic cross-engine. */
  def viewTopkTwin(spark: SparkSession, dir: String): DataFrame = {
    val viewDir = familyViews(spark, dir)("topk")
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n_docs").desc, col("tok1").asc)
    readView(spark, viewDir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("bucket"), col("tok1"), col("n_docs"), col("rk"))
      .orderBy(col("bucket"), col("rk"))
  }

  /** The shared-scan twin: TWO views — a sums view and a min/max view —
    * over the delete-lifecycle lake at DIFFERENT cursors (the sums view
    * pre-consumes the LWW-update epoch solo; the min/max view still sits
    * at bootstrap), then ONE [[refreshViews]] call catches both up
    * through the delete + re-admission epochs from a single shared
    * history scan — the warm-view window and the bootstrap window fan
    * out of the same materialized frame, and the min/max leg exercises
    * the retraction recompute from the shared path. Serve = the two
    * views joined on the dim. DuckDB recomputes both aggregates from the
    * final visible set — hash equality pins that fanned-out windows are
    * indistinguishable from solo refreshes. */
  def viewsSharedTwin(spark: SparkSession, dir: String): DataFrame = {
    val dirs = sharedViewDirs(spark, dir)
    val s = readView(spark, dirs._1).alias("s")
    val m = readView(spark, dirs._2).alias("m")
    s.join(m, col("s.bucket") === col("m.bucket"))
      .select(col("s.bucket").as("bucket"), col("s.n_docs").as("n_docs"),
        col("s.chars").as("chars"), col("m.min_chars"), col("m.max_toks"))
      .orderBy(col("bucket"))
  }

  /** The oracled twin: a REAL view (bucket = doc_id mod 7; summed char
    * and whitespace-token counts) declared over the delete-lifecycle
    * lake's base corpus, maintained INCREMENTALLY across its three
    * committed epochs (LWW update, deleteDocs tombstones, re-admission)
    * with a mid-stream compaction, then served — through the shared
    * [[familyViews]] lifecycle. DuckDB recomputes the aggregate directly
    * from the final visible set — hash equality pins the declarative
    * signed algebra end to end. */
  def viewTwin(spark: SparkSession, dir: String): DataFrame =
    readView(spark, familyViews(spark, dir)("sums"))
      .orderBy(col("bucket"))

  /** The shared-scan twin's memoized fixture: two views over the
    * delete-lifecycle lake, one bootstrapped solo so the cursors differ
    * when the shared refresh runs. */
  private def sharedViewDirs(spark: SparkSession,
      dir: String): (String, String) = {
    val lake = CorpusLake.deleteLake(spark, dir)
    graft.sources.Caches.memoizedValue[(String, String)](spark,
        s"corpus-views-shared|$dir") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-lake-views-shared").toString
      val v1 = s"$root/sums"; val v2 = s"$root/minmax"
      createView(spark, dir, v1,
        dims = Seq("bucket" -> "CAST(doc_id % 7 AS INT)"),
        measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"))
      createView(spark, dir, v2,
        dims = Seq("bucket" -> "CAST(doc_id % 7 AS INT)"),
        measures = Nil,
        minMeasures = Seq("min_chars" -> "CAST(length(text) AS BIGINT)"),
        maxMeasures = Seq(
          "max_toks" -> "CAST(size(split(text, ' ')) AS BIGINT)"))
      refreshViewFromLake(spark, dir, lake, v1, upTo = Some(0L))
      refreshViews(spark, dir, lake, Seq(v1, v2))
      (v1, v2)
    }
  }
}
