package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{CorpusLake, LakeView}
import Harness.{ms, timed}

/** `lake_commit`: the lake's write path, commit -> visible.
  *
  * Seeded document batches (one tab-separated file per batch: doc_id,
  * deleted flag, text) go through `CorpusLake.maintainCorpusStream` over
  * `initCorpus`, with one `LakeView` carrying a sum and a quantile measure
  * and `optimizeEvery` set. Each cycle hands one batch to the stream,
  * waits for its commit, then materializes a `readCorpusAt` head read and a
  * `readView` through the noop sink. The checks run after the last cycle.
  * A traced run records every other cycle.
  */
object LakeBench {
  val Dims = Seq("bucket" -> "CAST(doc_id % 64 AS INT)")
  val Sums = Seq("chars" -> "CAST(length(text) AS BIGINT)")
  val Quants = Seq(("p50_chars", "CAST(length(text) AS DOUBLE)", 0.5))

  /** Whether `readView` equals a recompute of the view's measures over the
    * snapshot `head`, as LakeViewSpec checks it. */
  def viewMatchesRecompute(spark: SparkSession, head: DataFrame, view: String): Boolean = {
    import spark.implicits._
    val recompute = head
      .select(expr(Dims.head._2).as("bucket"), expr(Sums.head._2).as("chars"),
        expr(Quants.head._2).as("v"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"chars").as("chars"),
        percentile($"v", lit(0.5)).as("p50_chars"))
    def rows(df: DataFrame) = df
      .select($"bucket", $"n_docs", $"chars", round($"p50_chars", 6).as("p50"))
      .collect().map(_.toSeq).toSet
    rows(LakeView.readView(spark, view)) == rows(recompute)
  }

  def run(spark: SparkSession, conf: Conf, out: Out, tracer: Tracer): Unit = {
    import spark.implicits._
    val dir = conf("data_dir")
    val work = conf("work")
    val (idx, corpus, maint, view) =
      (s"$work/lake/idx", s"$work/lake/corpus", s"$work/lake/maint", s"$work/lake/view")
    val (_, initMs) = timed(spark, tracer, "setup.init") {
      CorpusLake.initCorpus(spark, dir, idx)
      LakeView.createView(spark, dir, view, Dims, Sums, quantileMeasures = Quants)
    }
    out("init_ms") = initMs
    val batches = Files.list(Paths.get(conf("batch_dir"))).iterator().asScala.toSeq
      .map(_.toString).sorted.map { p =>
        Files.readAllLines(Paths.get(p)).asScala.toSeq.map { l =>
          val Array(id, del, text) = l.split("\t", 3)
          (id.toLong, text, del == "1")
        }
      }
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Boolean)]
    val sc = spark.sparkContext
    // the stream's thread inherits this tag; its jobs add the batch id
    sc.setLocalProperty(Tracer.SpanKey, "commit")
    val q = CorpusLake.maintainCorpusStream(in.toDF().toDF("doc_id", "text", "deleted"),
        spark, dir, idx, corpus, maint, optimizeEvery = conf.int("optimize_every"),
        deleteCol = Some("deleted"), viewDirs = Seq(view))
      .option("checkpointLocation", s"$work/lake/ckpt")
      .start()
    sc.setLocalProperty(Tracer.SpanKey, null)
    out("setup_end_epoch_ms") = System.currentTimeMillis()
    val cycles = batches.zipWithIndex.map { case (b, i) =>
      // a traced run records every other cycle, starting with the second
      val traced = conf.trace && i % 2 == 1
      tracer.record(traced)
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (_, commitMs) = timed(spark, tracer, s"commit@$i") {
        in.addData(b)
        q.processAllAvailable()
      }
      def read(kind: String)(df: => DataFrame): Double =
        timed(spark, tracer, s"$kind@$i") {
          df.write.format("noop").mode("overwrite").save()
        }._2
      val snapMs = read("snapshot_read")(CorpusLake.readCorpusAt(spark, dir, corpus))
      val viewMs = read("view_read")(LakeView.readView(spark, view))
      Map("cycle" -> i, "traced" -> traced, "start_ms" -> start, "visible_ms" -> ms(t0),
        "commit_ms" -> commitMs, "snapshot_read_ms" -> snapMs, "view_read_ms" -> viewMs)
    }
    q.stop()
    tracer.record(false)
    val progress = IngestBench.progress(q).filter(_("rows").asInstanceOf[Long] > 0)
    out("cycles") = cycles.zipWithIndex.map { case (c, i) =>
      val batch = progress(i)("batch")
      c ++ Map(
        "batch" -> batch,
        "commit_jobs" -> tracer.jobsOf(s"commit#$batch"),
        "snapshot_read_jobs" -> tracer.jobsOf(s"snapshot_read@$i"),
        "view_read_jobs" -> tracer.jobsOf(s"view_read@$i"),
        "add_batch_ms" -> progress(i)("duration_ms").asInstanceOf[Map[String, Long]]
          .getOrElse("addBatch", 0L))
    }

    // checks, outside every timed region
    val head = CorpusLake.readCorpusAt(spark, dir, corpus)
    out("view_matches_recompute") = viewMatchesRecompute(spark, head, view)
    out("manifest_rows") = CorpusLake.manifest(spark, corpus).count()
    out("decisions") = CorpusLake.admissionLog(spark, corpus)
      .select($"doc_id", $"decision").as[(Long, String)].collect().toSeq
      .map { case (d, s) => Seq(d, s) }
    out("head_ids") = head.select($"doc_id").as[Long].collect().toSeq.sorted
    val man = CorpusLake.manifest(spark, corpus)
      .agg(sum($"n_arrived"), sum($"n_admitted")).head()
    out("admit_ratio") = man.getLong(1).toDouble / man.getLong(0)
    var files = 0L
    var bytes = 0L
    Files.walk(Paths.get(corpus)).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).foreach { p =>
        files += 1; bytes += Files.size(p)
      }
    out("lake_files") = files
    out("lake_bytes") = bytes
  }
}
