package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.operators.{CorpusLake, LakeView}
import graft.sources.Caches
import Harness.timed

/** `serve_mix`: one client runs the query mix in a closed loop.
  *
  * The cold pass is set-up: it warms the JVM, builds the `graft-envelope`
  * fixture, and writes every result to parquet for the DuckDB oracle. Each
  * warm pass then starts with `Caches.releaseAll()`, runs the mix in an
  * order shuffled by the seed, and times every query to full
  * materialization through the noop sink: `plan_ms` is the
  * `SparkEntry.queries` call itself (driver planning plus eager memo and
  * index work), `exec_ms` the noop write. Spark jobs are counted per query
  * in every run, for the memo guard. A traced run records every other pass.
  *
  * Two reads of the versioned lake ride in the mix: `lake_snapshot`
  * (`CorpusLake.readCorpusAt`, the head snapshot) and `lake_view`
  * (`LakeView.readView` of a view with a sum and a quantile measure,
  * declared by `createView` during set-up). The lake holds no commits; its
  * write path is the `lake_commit` workload.
  */
object ServeBench {
  def run(spark: SparkSession, conf: Conf, out: Out, tracer: Tracer): Unit = {
    val dir = conf("data_dir")
    val names = conf("queries").split(",").toSeq
    val dump = conf("dump_dir")
    val (corpus, view) = (conf("work") + "/lake/corpus", conf("work") + "/lake/view")
    val lake: Map[String, () => DataFrame] = Map(
      "lake_snapshot" -> (() => CorpusLake.readCorpusAt(spark, dir, corpus)),
      "lake_view" -> (() => LakeView.readView(spark, view)))
    def query(n: String): DataFrame = lake.get(n).fold(SparkEntry.queries(n)(spark, dir))(_())
    out("oracle_sql") = names.filterNot(lake.contains).map(n => n -> SparkEntry.oracleSql(n)).toMap

    val (_, viewMs) = timed(spark, tracer, "setup.view") {
      LakeView.createView(spark, dir, view, LakeBench.Dims, LakeBench.Sums,
        quantileMeasures = LakeBench.Quants)
    }
    out("view_ms") = viewMs
    Caches.releaseAll()
    val (_, coldMs) = timed(spark, tracer, "cold") {
      names.foreach { n =>
        query(n).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
      }
    }
    out("cold") = Map("wall_ms" -> coldMs)
    out("setup_end_epoch_ms") = System.currentTimeMillis()

    // one seeded order for every pass of a run: memos are shared within a
    // pass, so a query's job count depends on what ran before it, and the
    // memo guard needs the same history in every pass
    val order = new scala.util.Random(conf.seed).shuffle(names)
    val passes = (0 until conf.int("passes")).map { p =>
      val traced = conf.trace && p % 2 == 1
      tracer.record(traced)
      Caches.releaseAll()
      val t0 = System.nanoTime()
      val qs = order.map { n =>
        val q0 = System.currentTimeMillis()
        val (df, planMs) = timed(spark, tracer, s"plan:$n@$p", s"pass:$p") {
          query(n)
        }
        val (_, execMs) = timed(spark, tracer, s"exec:$n@$p", s"pass:$p") {
          df.write.format("noop").mode("overwrite").save()
        }
        n -> (q0, planMs, execMs)
      }
      val wall = Harness.ms(t0)
      Map("pass" -> p, "traced" -> traced, "wall_ms" -> wall, "order" -> order,
        "queries" -> qs.map { case (n, (q0, pl, ex)) =>
          n -> Map("start_ms" -> q0, "plan_ms" -> pl, "exec_ms" -> ex,
            "jobs" -> (tracer.jobsOf(s"plan:$n@$p") + tracer.jobsOf(s"exec:$n@$p")))
        }.toMap)
    }
    out("passes") = passes
    // checks, outside every timed region
    out("view_matches_recompute") = LakeBench.viewMatchesRecompute(spark,
      CorpusLake.readCorpusAt(spark, dir, corpus), view)
  }
}
