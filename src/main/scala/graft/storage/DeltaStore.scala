package graft.storage

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, max}
import graft.operators.Ingest

/** The epoch-stamped delta store beside a persisted serving index (dense
  * inverted lists, postings segments, dedup buckets): the idempotent-sink
  * rule of Structured Streaming. Every row carries the epoch that wrote
  * it, so a replayed epoch appends byte-identical rows that collapse on
  * read, and a later epoch's re-upload of a key wins. This object is the
  * only code that knows its four rules:
  *
  *  - [[append]]: stamp `epoch`, append after [[Artifact.resolve]] (an
  *    append that created a fresh main dir would strand a completed
  *    rewrite);
  *  - reads: row-level [[latest]], doc-level [[latestDocs]] and the
  *    base ∪ delta [[overlay]];
  *  - [[fold]], the crash order of every index compactor: read the
  *    watermark ([[maxEpoch]]) BEFORE the delta, publish the overlay into
  *    the base through [[Artifact.publish]], then truncate the store
  *    bounded by the watermark ([[truncateStoreThrough]]), so a row a
  *    live appender lands after the read survives. A crash between
  *    publish and truncate leaves rows in both base and store, which
  *    [[overlay]] serves once (the state a post-fold replay of an old
  *    epoch creates), so every crash point is serve-consistent;
  *  - [[Trigger]]: when a maintenance loop folds. */
object DeltaStore {

  /** The store's raw rows, an interrupted swap completed first. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(Artifact.resolve(spark, storeDir))

  /** Append `rows` stamped with `epoch`. */
  def append(rows: DataFrame, storeDir: String, epoch: Long): Unit =
    append(rows.withColumn("epoch", lit(epoch)), storeDir)

  /** Append rows that already carry their `epoch` (a lake consumer stamps
    * each row with its committed lake version). */
  def append(rows: DataFrame, storeDir: String): Unit =
    rows.write.mode("append")
      .parquet(Artifact.resolve(rows.sparkSession, storeDir))

  /** The newest epoch in `raw`; None when it is empty or epoch-less. */
  def maxEpoch(raw: DataFrame): Option[Long] = {
    import raw.sparkSession.implicits._
    if (raw.columns.contains("epoch"))
      raw.agg(max(col("epoch"))).as[Option[Long]].head()
    else None
  }

  /** Row-level latest: the LATEST epoch wins per `key`
    * ([[Ingest.latestPerKey]]), a deterministic upsert (within one epoch a
    * key appears once: the ingest contract of any keyed sink), and
    * byte-identical replay copies of that epoch collapse in the same
    * rank. Epoch-less stores (a pre-epoch layout, or a side table written
    * by a batch backfill) keep the plain key dedup, safe only under the
    * append-only/byte-identical-replay contract. */
  def latest(spark: SparkSession, storeDir: String, key: String): DataFrame = {
    val raw = read(spark, storeDir)
    if (raw.columns.contains("epoch"))
      Ingest.latestPerKey(raw, key, col("epoch")).drop("epoch")
    else raw.dropDuplicates(key)
  }

  /** Doc-level latest: byte-identical replay copies collapse on the full
    * `doc` + `rowKey` + epoch key, then the LATEST epoch wins per `doc`,
    * so the whole row set of the newest version replaces the old one (a
    * changed re-upload may have dropped rows; row-level latest would leak
    * them). Epoch-less frames keep the plain key dedup. */
  def latestDocs(raw: DataFrame, doc: String, rowKey: String*): DataFrame = {
    val key = doc +: rowKey
    if (raw.columns.contains("epoch"))
      raw.dropDuplicates(key :+ "epoch")
        .withColumn("_maxe", max(col("epoch")).over(Window.partitionBy(col(doc))))
        .filter(col("epoch") === col("_maxe")).drop("_maxe", "epoch")
    else raw.dropDuplicates(key)
  }

  /** Base ∪ delta with the base's rows dropped for any key the delta
    * re-lists — the read-side merge every delta-serving leg uses. Before a
    * fold this is a no-op union (appended keys are fresh); after one it is
    * what makes a REPLAYED old epoch invisible (its rows are already in
    * the base), and under a genuine same-key re-upload the delta (newer)
    * row deterministically wins. The anti-join probes the base with only
    * the delta's key column — AQE broadcasts the small side; the base
    * materialization is never shuffled. */
  def overlay(base: DataFrame, delta: DataFrame, key: String): DataFrame = {
    val dd = delta.select(base.columns.map(col).toIndexedSeq: _*)
    base.join(dd.select(col(key)).distinct(), Seq(key), "left_anti")
      .unionByName(dd)
  }

  /** Fold the store into the base artifact `<indexDir>/<name>`: the
    * watermark is read first, then `delta` (the caller's latest read of
    * the store), then `keep(overlay(base, delta))` is published and the
    * store truncated through the watermark — with `committed`, only the
    * committed epochs at or below it go ([[truncateStoreThrough]]).
    * Returns false, writing nothing, when the delta is empty. */
  def fold(spark: SparkSession, storeDir: String, indexDir: String,
      name: String, key: String, committed: Option[DataFrame] = None)(
      delta: => DataFrame)(keep: DataFrame => DataFrame): Boolean = {
    val foldedThrough = maxEpoch(read(spark, storeDir))
    val d = delta
    if (d.isEmpty) return false
    val base = spark.read.parquet(Artifact.resolve(spark, indexDir, name))
    Artifact.publish(keep(overlay(base, d, key)), indexDir, name)
    truncateStoreThrough(spark, storeDir, foldedThrough, committed)
    true
  }

  /** Truncate an append store to a schema-only parquet dir (row-free but
    * readable): the store must survive a fold so a restarted stream can
    * keep appending, and so a replayed pre-fold epoch has a place to land
    * (its rows are then hidden by [[overlay]]). */
  def truncateStore(spark: SparkSession, storeDir: String): Unit = {
    val schema = spark.read.parquet(storeDir).schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .write.mode("overwrite").parquet(storeDir)
  }

  /** Truncate an append store down to the rows a fold has NOT consumed:
    * rows at or below `foldedThrough` were visible to the fold-read and
    * live in the merged base, while rows ABOVE it (an append that landed
    * after the read) survive — a row both folded and kept is served once
    * by [[overlay]]. With `committed` (a one-column `epoch` frame) only
    * the committed epochs at or below the watermark go, so a crashed
    * uncommitted epoch's rows stay out of the base and in the store.
    * `None` with no `committed` (an epoch-less store: nothing to bound by)
    * is the full [[truncateStore]]. The rewrite goes through
    * [[Artifact.publish]], whose swap every reader and appender resolves. */
  def truncateStoreThrough(spark: SparkSession, storeDir: String,
      foldedThrough: Option[Long],
      committed: Option[DataFrame] = None): Unit =
    (foldedThrough, committed) match {
      case (None, None) => truncateStore(spark, storeDir)
      case (Some(m), None) =>
        Artifact.publish(read(spark, storeDir).filter(col("epoch") > m),
          storeDir)
      case (m, Some(c)) =>
        val folded = c.select(col("epoch"))
        Artifact.publish(read(spark, storeDir).join(
            m.fold(folded)(w => folded.filter(col("epoch") <= w)),
            Seq("epoch"), "left_anti"),
          storeDir)
    }

  /** Coalesce an append store's many small per-batch files into
    * `ceil(rows / target)` sorted files — the side-table twin of the lake
    * OPTIMIZE, for the grow-forever raw partitions the maintenance loops
    * keep beside their delta stores and for the lake stores themselves. A
    * logical no-op: every `dedupKeys` row survives (byte-identical replay
    * copies collapse — the collapse every reader already applies); rows
    * are range-partitioned and sorted on `sortKeys` so parquet footer
    * min/max stats serve the readers' key lookups after the per-batch
    * layout is gone. Rides [[Artifact.publish]]; callers run it inside the
    * serialized foreachBatch slot (the no-concurrent-append quiescence
    * every wholesale rewrite here assumes). No-op on a missing store. */
  def coalesceStore(spark: SparkSession, storeDir: String,
      dedupKeys: Seq[String], sortKeys: Seq[String],
      targetRowsPerFile: Long = 1L << 20): Unit = {
    val p = Artifact.find(spark, storeDir).getOrElse(return)
    // mergeSchema: a store whose epochs carry evolved schemas must not
    // lose a column to whichever file the plain reader samples; the
    // rewrite physically unifies the schema (nulls backfilled)
    // persist before the sizing count: the rewrite would otherwise
    // re-scan and re-dedup the whole store a second time for the write.
    // recursive: a lake store may hold live/packed sub-dirs (the
    // incremental OPTIMIZE layout) — the full rewrite flattens them
    val rows = spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(p)
      .dropDuplicates(dedupKeys).persist()
    try {
      val n = rows.count()
      val nFiles = math.max(1L,
        (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      Artifact.publish(rows.repartitionByRange(nFiles, sortKeys.map(col): _*)
        .sortWithinPartitions(sortKeys.map(col): _*), storeDir)
    } finally rows.unpersist()
  }

  /** A maintenance loop's fold trigger, kept as running counters so the
    * per-batch cost is O(batch), never a footer scan of the base or a
    * windowed dedup of the store: the base `<baseDir>` is counted once per
    * (re)start and after every fold, the first delta count reads the
    * store after this batch's append, and later batches add their `n`.
    * It fires when `delta > 0 && delta ≥ compactAt·base`. A replayed
    * epoch over-counts the delta slightly, which only folds EARLIER; rows
    * a committed fold keeps are not counted again, which only delays the
    * next fold — both safe for a heuristic trigger. */
  final class Trigger(spark: SparkSession, compactAt: Double,
      baseDir: String, storeDir: String) {
    private var baseCount = -1L
    private var deltaCount = -1L

    /** Count a batch of `n` rows already appended to the store; run
      * `fold` when the delta has reached the threshold. */
    def afterAppend(n: Long)(fold: => Unit): Unit = {
      if (baseCount < 0)
        baseCount = spark.read.parquet(Artifact.resolve(spark, baseDir)).count()
      if (deltaCount < 0) deltaCount = read(spark, storeDir).count()
      else deltaCount += n
      if (deltaCount > 0 && deltaCount >= compactAt * baseCount) {
        fold
        baseCount = -1
        deltaCount = 0
      }
    }
  }
}
