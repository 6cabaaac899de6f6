package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.sources.Formats
import graft.storage.Artifact

/** Ops observability for long-lived streaming pipelines: a
  * [[StreamingQueryListener]] that appends ONE parquet row per finished
  * micro-batch — the health record an operator trends to catch backlog
  * growth (input vs processed rate), state blowup (stateful-operator row
  * totals), and per-batch latency regressions, the same way `lakeStats`
  * is the lake's DESCRIBE surface.
  *
  * The write happens on the listener bus thread, OUTSIDE the query's
  * batch path — a slow metrics disk delays later notifications, never
  * the stream itself — and any failure is swallowed to stderr: losing a
  * metrics row must never look like losing data. Reading caveat:
  * `input_rows` is Spark's per-trigger source-read count, so for a
  * foreachBatch body that runs MULTIPLE actions over the batch frame it
  * sums the re-reads across those actions — a processed-volume
  * indicator to trend, not an arrival count (single-action sinks report
  * exact counts). Each row is tiny; the
  * one-file-per-batch accretion is the same shape every append store
  * here has, bounded by [[StreamMetrics.compactMetrics]] on whatever
  * cadence the operator already runs lake hygiene. */
class ProgressMetricsSink(spark: SparkSession, metricsDir: String)
    extends StreamingQueryListener {

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  /** Terminations land in their own `lifecycle` store — failed-or-not
    * plus the error head. A stream dying WITH an exception is the single
    * most important ops signal this surface carries; a clean stop is the
    * row that lets an alerting check tell "finished" from "vanished". */
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    try {
      val row = Seq((e.id.toString, e.runId.toString,
        System.currentTimeMillis(), e.exception.isDefined,
        e.exception.getOrElse("").take(500)))
      spark.createDataFrame(row)
        .toDF("query_id", "run_id", "wall_millis", "failed", "error")
        .coalesce(1)
        .write.mode("append").parquet(s"$metricsDir/lifecycle")
    } catch {
      case t: Throwable => System.err.println(
        s"[metrics] dropped a termination row (${t.getClass.getSimpleName}: " +
          s"${Option(t.getMessage).getOrElse("").take(120)})")
    }

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    try {
      val p = e.progress
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      val batchMs = Option(p.durationMs.get("triggerExecution"))
        .fold(-1L)(_.longValue())
      // NaN rates (first batch, idle gaps) are stored as nulls so the
      // summary's averages skip them instead of poisoning the mean
      def rate(d: Double): Option[Double] =
        if (d.isNaN || d.isInfinite) None else Some(d)
      val row = Seq((
        Option(p.name).getOrElse(""), p.id.toString, p.runId.toString,
        p.batchId, System.currentTimeMillis(), p.numInputRows,
        rate(p.inputRowsPerSecond), rate(p.processedRowsPerSecond),
        batchMs, stateRows))
      spark.createDataFrame(row)
        .toDF("query", "query_id", "run_id", "batch_id", "wall_millis",
          "input_rows", "input_rows_per_sec", "processed_rows_per_sec",
          "batch_duration_ms", "state_rows")
        .coalesce(1)
        // SPOOL, not the compacted store: the listener thread has no
        // quiesce point, so an append racing compactMetrics' delete→rename
        // swap of `batches` could recreate the dir mid-swap and corrupt
        // the whole store. The spool is append-only; compaction drains
        // exactly the files it listed, readers union + dedup both sides
        .write.mode("append").parquet(s"$metricsDir/batches_spool")
    } catch {
      case t: Throwable => System.err.println(
        s"[metrics] dropped a progress row (${t.getClass.getSimpleName}: " +
          s"${Option(t.getMessage).getOrElse("").take(120)})")
    }
}

/** Attach/read/summarize/compact the per-batch stream metrics store. */
object StreamMetrics {

  /** Register a metrics sink on the session's listener bus. One sink
    * observes EVERY query on the session — multi-query pipelines land in
    * one store, keyed by query name/id. Returns the listener for
    * [[detach]]. */
  def attach(spark: SparkSession, metricsDir: String): ProgressMetricsSink = {
    val l = new ProgressMetricsSink(spark, metricsDir)
    spark.streams.addListener(l)
    l
  }

  def detach(spark: SparkSession, l: ProgressMetricsSink): Unit =
    spark.streams.removeListener(l)

  /** Raw per-batch rows (empty frame with the full schema if nothing has
    * been recorded yet — including the instant where the listener's
    * FIRST write is still in flight and the dir holds no readable
    * footer). */
  def metrics(spark: SparkSession, metricsDir: String): DataFrame = {
    val empty = spark.range(0).select(
      lit("").as("query"), lit("").as("query_id"), lit("").as("run_id"),
      col("id").as("batch_id"), lit(0L).as("wall_millis"),
      lit(0L).as("input_rows"),
      lit(0.0).as("input_rows_per_sec"),
      lit(0.0).as("processed_rows_per_sec"),
      lit(0L).as("batch_duration_ms"), lit(0L).as("state_rows")).limit(0)
    def readDir(p: Option[String]): Option[DataFrame] =
      p.flatMap(d => try Some(spark.read.parquet(d))
        catch { case _: org.apache.spark.sql.AnalysisException => None })
    val spool = s"$metricsDir/batches_spool"
    // compacted store ∪ the listener's spool; a row can live in both for
    // the window between a compaction's swap and its spool drain (or
    // across a crash between them) — (run_id, batch_id) is unique per
    // completed batch, so the dedup serves it once either way
    val parts =
      readDir(Artifact.find(spark, metricsDir, "batches")).toSeq ++
      readDir(Some(spool).filter(Formats.pathExists(spark, _))).toSeq
    parts.reduceOption(_ unionByName _)
      .map(_.dropDuplicates("run_id", "batch_id"))
      .getOrElse(empty)
  }

  /** Termination rows — (query_id, run_id, wall_millis, failed, error);
    * `failed = true` carries the exception head. Empty-schema frame when
    * nothing has terminated yet. */
  def terminations(spark: SparkSession, metricsDir: String): DataFrame = {
    val p = s"$metricsDir/lifecycle"
    val empty = spark.range(0).select(
      lit("").as("query_id"), lit("").as("run_id"),
      col("id").as("wall_millis"), lit(false).as("failed"),
      lit("").as("error")).limit(0)
    if (!Formats.pathExists(spark, p)) empty
    else try spark.read.parquet(p)
    catch { case _: org.apache.spark.sql.AnalysisException => empty }
  }

  /** Per-query health rollup: batch count, total rows, mean/p50/p95/max
    * batch duration (the tail percentiles are what latency alerting
    * actually pages on — a healthy mean hides a degrading p95; exact
    * percentile is right at metrics-store scale, approx_percentile is
    * the drop-in if a store ever outgrows it), mean processed rate
    * (NaN-free by construction), peak
    * state rows, the latest batch id, plus the failure decoration from
    * the lifecycle store — failed run count and the most recent error —
    * so one read answers both "is it healthy" and "did it die". One
    * partial-aggregated groupBy over the metrics store joined with a
    * query-count-sized failure aggregate. Queries that crashed before
    * completing ANY batch have no row here (nothing was ever measured);
    * [[terminations]] is the surface that still names them. */
  def summary(spark: SparkSession, metricsDir: String): DataFrame = {
    val agg = metrics(spark, metricsDir)
      .groupBy(col("query"), col("query_id"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("input_rows")).as("total_rows"),
        avg(col("batch_duration_ms")).as("mean_batch_ms"),
        percentile(col("batch_duration_ms"), lit(0.5)).as("p50_batch_ms"),
        percentile(col("batch_duration_ms"), lit(0.95)).as("p95_batch_ms"),
        max(col("batch_duration_ms")).as("max_batch_ms"),
        avg(col("processed_rows_per_sec")).as("mean_processed_per_sec"),
        max(col("state_rows")).as("peak_state_rows"),
        max(col("batch_id")).as("last_batch_id"))
    val fails = terminations(spark, metricsDir)
      .filter(col("failed"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("failed_runs"),
        max_by(col("error"), col("wall_millis")).as("last_error"))
    agg.join(fails, Seq("query_id"), "left")
      .withColumn("failed_runs", coalesce(col("failed_runs"), lit(0L)))
  }

  /** Fold the one-file-per-batch spool accretion into the single sorted
    * `batches` store via [[Artifact.publish]] — run it on the same
    * maintenance cadence as the other append stores. Safe beside the
    * LIVE listener with no quiesce point: the spool files to drain are
    * listed FIRST, only those exact files are folded and deleted, so an
    * append landing anywhere during the pass survives to the next one,
    * and the swap target (`batches`) has exactly one writer — this
    * compactor. Returns (files before, files after). */
  def compactMetrics(spark: SparkSession, metricsDir: String): (Long, Long) = {
    val main = Artifact.find(spark, metricsDir, "batches")
    val spool = new org.apache.hadoop.fs.Path(s"$metricsDir/batches_spool")
    val fs = spool.getFileSystem(spark.sessionState.newHadoopConf())
    val spoolFiles: Seq[org.apache.hadoop.fs.Path] =
      if (!fs.exists(spool)) Nil
      else {
        val it = fs.listFiles(spool, true)
        val b = Seq.newBuilder[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val f = it.next()
          val n = f.getPath.getName
          if (f.isFile && !n.startsWith("_") && !n.startsWith("."))
            b += f.getPath
        }
        b.result()
      }
    if (main.isEmpty && spoolFiles.isEmpty) return (0L, 0L)
    val before = main.fold(0L)(
      graft.operators.CorpusLake.dataFileCount(spark, _)) + spoolFiles.size
    val parts = main.map(spark.read.parquet(_)).toSeq ++
      (if (spoolFiles.nonEmpty)
         Seq(spark.read.parquet(spoolFiles.map(_.toString): _*))
       else Nil)
    Artifact.publish(parts.reduce(_ unionByName _)
      .dropDuplicates("run_id", "batch_id")
      .repartitionByRange(1, col("query_id"), col("batch_id"))
      .sortWithinPartitions(col("query_id"), col("batch_id")),
      metricsDir, "batches")
    // drain ONLY what was folded; a crash before this line re-serves the
    // duplicates through the readers' (run_id, batch_id) dedup
    spoolFiles.foreach(f => fs.delete(f, false))
    (before,
      graft.operators.CorpusLake.dataFileCount(spark, s"$metricsDir/batches"))
  }
}
