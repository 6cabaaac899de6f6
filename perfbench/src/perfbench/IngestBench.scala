package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.streaming.{ParquetKeyedStore, StreamPipeline}
import Harness.timed

/** The keyed-upsert stream workloads (`ingest_hot`, `ingest_wide`).
  *
  *  1. Seed (wide only): one merge of a large initial key set, so the
  *     drain runs against a store of realistic size.
  *  2. Drain: a fixed pre-written backlog through
  *     `StreamPipeline.startBatchMerge` as shipped (AvailableNow,
  *     fixed `maxFilesPerTrigger`). Its first batches warm the JVM up;
  *     `ingest.py` measures the batches after them.
  *
  * A traced run drains the same backlog three times: untraced, to warm the
  * JVM up further, then traced and untraced again, to report the tracing
  * overhead. It then runs the paced phase: an open-loop
  * mover drops pre-written message files into a watched dir at a fixed
  * rate, and a default-trigger `foreachBatch` runs
  * `StreamPipeline.transform` + `ParquetKeyedStore.merge` on them. Last it
  * replays some drained batches through `transform` -> noop (decode alone)
  * and `merge` over the decoded, checkpointed batch (sink alone).
  */
object IngestBench {
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Batch ids of merges the benchmark issues itself, kept apart from the
    * stream's own ids so no two merges write the same generation dir. */
  val SeedBatchId = 900000000L
  val PacedBatchBase = 1000000000L

  def run(spark: SparkSession, conf: Conf, out: Out, tracer: Tracer): Unit = {
    val work = conf("work")
    val stores = if (conf.trace) Seq("untraced", "traced", "again", "replay") else Seq("main")
    val seedMs = conf.get("seed_dir").fold(0.0) { dir =>
      timed(spark, tracer, "setup.seed") {
        val seed = StreamPipeline.transform(read(spark, dir)).localCheckpoint()
        stores.foreach(s => store(work, s).merge(seed, SeedBatchId))
      }._2
    }
    out("seed_ms") = seedMs

    if (conf.trace) {
      out("drain_untraced") = drainPhase(spark, conf, work, "untraced", tracer)
      tracer.record(true)
      out("drain") = drainPhase(spark, conf, work, "traced", tracer)
      tracer.record(false)
      out("drain_again") = drainPhase(spark, conf, work, "again", tracer)
      tracer.record(true)
      out("paced") = pacedPhase(spark, conf, work, "traced", tracer)
      out("replay") = replay(spark, work, s"$work/ckpt-drain-traced", conf.int("replay_batches"),
        tracer)
    } else out("drain") = drainPhase(spark, conf, work, "main", tracer)
    out("stores") = stores.map(s => s -> s"$work/store-$s").toMap
  }

  def store(work: String, name: String) =
    new ParquetKeyedStore(s"$work/store-$name", "fx_marker", "timestamp_ms")

  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(EnvelopeSchema).parquet(paths: _*)

  def drain(spark: SparkSession, dir: String, maxFiles: Int, storeDir: String,
            ckpt: String): StreamingQuery = {
    val env = spark.readStream.schema(EnvelopeSchema)
      .option("maxFilesPerTrigger", maxFiles.toLong).parquet(dir)
    val q = StreamPipeline.startBatchMerge(env, storeDir, ckpt)
    q.awaitTermination()
    q
  }

  private def drainPhase(spark: SparkSession, conf: Conf, work: String,
                         storeName: String, tracer: Tracer): Map[String, Any] = {
    val ckpt = s"$work/ckpt-drain-$storeName"
    val (q, wallMs) = timed(spark, tracer, "drain") {
      drain(spark, conf("backlog_dir"), conf.int("max_files"),
        s"$work/store-$storeName", ckpt)
    }
    Map("wall_ms" -> wallMs, "end_ms" -> System.currentTimeMillis(), "ckpt" -> ckpt,
      "store" -> s"$work/store-$storeName",
      "progress" -> progress(q)) ++ storeSize(s"$work/store-$storeName")
  }

  /** The store's footprint on disk, taken right after the drain: its size
    * then depends on the fixed backlog only, not on how many batches the
    * paced phase happened to run. */
  private def storeSize(dir: String): Map[String, Any] = {
    val root = Paths.get(dir)
    val live = Files.readString(root.resolve("_CURRENT")).trim
    def bytes(p: java.nio.file.Path): Long = {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
    val ls = Files.list(root)
    val gens = try ls.iterator().asScala.count(_.getFileName.toString.startsWith("gen-"))
      finally ls.close()
    Map("store_bytes" -> bytes(root), "live_bytes" -> bytes(root.resolve(live)),
      "live_gen" -> live, "generations" -> gens)
  }

  /** Per-batch progress as Spark reports it (public StreamingQueryProgress). */
  def progress(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      Map("batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }

  private def pacedPhase(spark: SparkSession, conf: Conf, work: String,
                         storeName: String, tracer: Tracer): Map[String, Any] = {
    val sink = store(work, storeName)
    val watch = Paths.get(s"$work/paced-watch")
    Files.createDirectories(watch)
    val ckpt = s"$work/ckpt-paced"
    // paced timings are nanoTime-based ms since `base`, with all digits
    val base = System.nanoTime()
    def now(): Double = (System.nanoTime() - base) / 1e6
    val merges = TrieMap[Long, (Double, Double)]()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanKey, "paced")
    val q = StreamPipeline.transform(spark.readStream.schema(EnvelopeSchema).parquet(watch.toString))
      .writeStream
      .queryName("perfbench-paced")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val start = now()
        sink.merge(batch, PacedBatchBase + id)
        merges(id) = (start, now())
      }
      .start()
    sc.setLocalProperty(Tracer.SpanKey, null)
    val staged = Files.list(Paths.get(conf("stage_dir"))).iterator().asScala.toSeq
      .map(_.getFileName.toString).sorted
    val intervalMs = 1000.0 / conf.double("paced_files_per_s")
    // open loop: the schedule is fixed up front and never waits for the
    // stream; a late mover shows in `moved_ms - due_ms`
    val t0 = now() + 1000
    def due(i: Int): Double = t0 + i * intervalMs
    val moves = new Array[Double](staged.size)
    val mover = new Thread(() => staged.indices.foreach { i =>
      val wait = due(i) - now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      Files.move(Paths.get(conf("stage_dir"), staged(i)), watch.resolve(staged(i)),
        StandardCopyOption.ATOMIC_MOVE)
      moves(i) = now()
    }, "perfbench-paced-mover")
    val wall0 = System.currentTimeMillis()
    mover.start()
    mover.join()
    q.processAllAvailable()
    q.stop()
    tracer.span("paced", "", wall0, System.currentTimeMillis().toDouble)
    Map("store" -> s"$work/store-$storeName",
      "batch_files" -> batchFiles(ckpt).map { case (b, fs) => b.toString -> fs },
      "files" -> staged.indices.map(i => Seq(staged(i), due(i), moves(i))),
      "merges" -> merges.toSeq.sortBy(_._1).map { case (id, (s, e)) => Seq(id, s, e) },
      "progress" -> progress(q))
  }

  /** Files of each micro-batch, from the file source's own log in the
    * checkpoint (`sources/0/<batch>` and its `.compact` rollups). */
  def batchFiles(ckpt: String): Map[Long, Seq[String]] = {
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val BatchRe = "\"batchId\":(\\d+)".r
    val log = Paths.get(ckpt, "sources", "0")
    Files.list(log).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield b.group(1).toLong -> p.group(1)
      }
      .distinct.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).sorted }
  }

  /** Replays `n` of the drained batches, evenly spaced, each into the
    * replay store: its files through `transform` -> noop (decode alone),
    * then `merge` over the decoded, checkpointed batch (sink alone). The
    * replay store was seeded like the others; it skips the batches in
    * between, so it is checked against the seed plus the replayed docs. */
  private def replay(spark: SparkSession, work: String, ckpt: String, n: Int,
                     tracer: Tracer): Seq[Map[String, Any]] = {
    val sink = store(work, "replay")
    val all = batchFiles(ckpt).toSeq.sortBy(_._1)
    val k = math.min(n, all.size)
    (0 until k).map(i => all(i * all.size / k)).map { case (b, files) =>
      val (_, decodeMs) = timed(spark, tracer, s"replay.decode#$b", "replay") {
        StreamPipeline.transform(read(spark, files: _*))
          .write.format("noop").mode("overwrite").save()
      }
      val (decoded, _) = timed(spark, tracer, s"replay.checkpoint#$b", "replay") {
        StreamPipeline.transform(read(spark, files: _*)).localCheckpoint()
      }
      val rows = decoded.count()
      val (_, mergeMs) = timed(spark, tracer, s"replay.merge#$b", "replay") {
        sink.merge(decoded, b)
      }
      Map("batch" -> b, "files" -> files.map(f => f.substring(f.lastIndexOf('/') + 1)),
        "rows" -> rows,
        "decode_ms" -> decodeMs, "merge_ms" -> mergeMs)
    }
  }
}
