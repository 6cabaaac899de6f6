package graft

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.streaming.{ParquetKeyedStore, StreamPipeline}

/** The [[ParquetKeyedStore]] merge contract: last-write-wins per key against
  * a driver-side model over randomized batch sequences, the try-cast of a
  * non-numeric `timestamp_ms` through the whole pipeline, and the merge's
  * plan shape (one shuffle of the state, no sort of it, no schema job). */
class KeyedStoreSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** (fx_marker, timestamp_ms, v): `v` is unique per generated row. */
  private type Doc = (String, String, Int)

  private def newStore(dir: String) = new ParquetKeyedStore(dir, "fx_marker", "timestamp_ms")

  private def df(docs: Seq[Doc]) = docs.toDF("fx_marker", "timestamp_ms", "v")

  private def assertStored(store: ParquetKeyedStore, expected: Seq[Doc], clue: String = ""): Unit = {
    val got = store.read(spark).get.select($"fx_marker", $"timestamp_ms", $"v").as[Doc].collect()
    assert(got.toSeq.sortBy(_._1) == expected.sortBy(_._1), clue)
  }

  /** The order value as the merge sees it: a try-cast to long. */
  private def rank(ts: String): Option[Long] = Option(ts).flatMap(_.toLongOption)

  /** Driver-side LWW: the batch's per-key latest (null order sorts last),
    * then the later rank wins against the state, the batch on a tie. */
  private def lww(state: Map[String, Doc], batch: Seq[Doc]): Map[String, Doc] =
    batch.filter(_._1 != null).groupBy(_._1).values.map(_.maxBy(d => rank(d._2)))
      .foldLeft(state) { (s, d) =>
        val keepOld = s.get(d._1).exists { old =>
          rank(old._2).exists(o => rank(d._2).forall(o > _))
        }
        if (keepOld) s else s.updated(d._1, d)
      }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val keyGen: Gen[String] =
    Gen.frequency(1 -> Gen.const(null), 9 -> Gen.oneOf("EUR/GBP", "USD/CHF", "A", "B", "C"))
  private val tsGen: Gen[String] = Gen.frequency(
    6 -> Gen.choose(0, 6).map(_.toString), 1 -> Gen.const("abc"), 1 -> Gen.const(null))
  /** A batch of 0-8 docs; per key, order values are distinct in rank (one
    * null or non-numeric at most), so the batch's own winner is unique. */
  private val batchGen: Gen[Seq[(String, String)]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 5 -> Gen.choose(1, 8))
    docs <- Gen.listOfN(n, Gen.zip(keyGen, tsGen))
  } yield docs.distinctBy { case (k, ts) => (k, rank(ts)) }

  /** Jobs launched by `f`, with the first call-site line of their stages. */
  private def jobsDuring(f: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val jobs = mutable.Buffer[Seq[String]]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += j.stageInfos.map(_.details.linesIterator.nextOption().getOrElse(""))
      }
    }
    sc.addSparkListener(l)
    try { f; ListenerDrain(sc) } finally sc.removeSparkListener(l)
    jobs.toSeq
  }

  /** A job run while a `DataFrameReader` builds its relation: parquet
    * schema inference (a read with a given schema launches none). */
  private def schemaJobs(jobs: Seq[Seq[String]]): Int =
    jobs.count(_.exists(_.contains("DataFrameReader")))

  test("merge matches a driver-side LWW map over randomized batch sequences") {
    val seen = mutable.Map[String, Int]().withDefaultValue(0)
    (1L to 3L).foreach { seed =>
      val dir = Files.createTempDirectory(s"kv_lww$seed").toString
      var store = newStore(dir)
      var model = Map.empty[String, Doc]
      var v = 0
      sample(Gen.listOfN(7, batchGen), seed).zipWithIndex.foreach { case (docs, i) =>
        val batch = docs.map { case (k, ts) => v += 1; (k, ts, v) }
        if (i == 4) store = newStore(dir) // a new instance on the existing directory
        val jobs = jobsDuring(store.merge(df(batch), i))
        // the new instance infers the schema once, then reuses the one it wrote
        assert(schemaJobs(jobs) == (if (i == 4) 1 else 0), s"seed $seed batch $i: $jobs")
        if (batch.isEmpty) seen("empty") += 1
        if (batch.exists(_._1 == null)) seen("null key") += 1
        if (batch.filter(_._1 != null).groupBy(_._1).exists(_._2.size > 1)) seen("dup key") += 1
        batch.foreach { case (k, ts, _) =>
          model.get(k).map(d => rank(d._2)).foreach { old =>
            if (old.isDefined && old == rank(ts)) seen("tie") += 1
            if (old.exists(o => rank(ts).exists(_ < o))) seen("late") += 1
          }
          if (k != null && rank(ts).isEmpty) seen("null order") += 1
        }
        model = lww(model, batch)
        assertStored(store, model.values.toSeq, s"seed $seed batch $i")
        if (i == 2) { // the replay after a crash that landed after the flip
          store.merge(df(batch), i)
          assertStored(store, model.values.toSeq, s"seed $seed replay $i")
        }
      }
    }
    Seq("empty", "null key", "dup key", "tie", "late", "null order").foreach { c =>
      assert(seen(c) > 0, s"no sequence exercised '$c': $seen")
    }
  }

  test("merge's edge cases: empty batch, first merge, ties, null orders and keys") {
    val store = newStore(Files.createTempDirectory("kv_edges").toString)
    store.merge(df(Nil), 0)
    assertStored(store, Nil)
    store.merge(df(Seq(("A", "5", 1), ("A", "abc", 2), ("B", null, 3), ("C", "7", 4),
      (null, "9", 5))), 1)
    assertStored(store, Seq(("A", "5", 1), ("B", null, 3), ("C", "7", 4)))
    store.merge(df(Nil), 2)
    assertStored(store, Seq(("A", "5", 1), ("B", null, 3), ("C", "7", 4)))
    // A ties (batch wins), B's null loses to a number, C's non-numeric loses
    store.merge(df(Seq(("A", "5", 6), ("B", "1", 7), ("C", "abc", 8), (null, "9", 9))), 3)
    assertStored(store, Seq(("A", "5", 6), ("B", "1", 7), ("C", "7", 4)))
    store.merge(df(Seq(("A", null, 10), (null, "1", 11))), 4)
    assertStored(store, Seq(("A", "5", 6), ("B", "1", 7), ("C", "7", 4)))
    // an empty batch merged again under the current generation's id: the
    // overwrite must not lose the state it reads
    store.merge(df(Nil), 4)
    assertStored(store, Seq(("A", "5", 6), ("B", "1", 7), ("C", "7", 4)))
  }

  test("a non-numeric timestamp_ms drains with a null date and loses to a numeric tick") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = Files.createTempDirectory("kv_abc").toString
    def drain(docs: String*): Unit = {
      val in = MemoryStream[String]
      in.addData(docs: _*)
      StreamPipeline.startBatchMerge(in.toDF(), storeDir,
        Files.createTempDirectory("cp_abc").toString).awaitTermination()
    }
    def state = newStore(storeDir).read(spark).get
      .select($"fx_marker", $"timestamp_ms", $"timestamp_dt".cast("string"))
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    drain("""{"timestamp_ms": "abc", "fx_marker": "X"}
            |{"timestamp_ms": "abc", "fx_marker": "Y"}""".stripMargin,
      """{"timestamp_ms": "1530305100936", "fx_marker": "Y"}""")
    assert(state == Map("X" -> ("abc", null), "Y" -> ("1530305100936", "2018-06-29")))
    drain("""{"timestamp_ms": "1530305100000", "fx_marker": "X"}""",
      """{"timestamp_ms": "abc", "fx_marker": "Y"}""")
    assert(state == Map("X" -> ("1530305100000", "2018-06-29"),
      "Y" -> ("1530305100936", "2018-06-29")))
  }

  test("merge plan: one exchange above the state scan, no sort of the state, no schema job") {
    val store = newStore(Files.createTempDirectory("kv_plan").toString)
    store.merge(df(Seq(("A", "1", 1), ("B", "2", 2))), 0)
    val batch = df(Seq(("A", "3", 3), ("C", "1", 4), ("C", "2", 5)))
    val next = store.applied(batch)
    next.collect()
    val plan = next.queryExecution.executedPlan
    def overState(p: SparkPlan): Boolean = find(p)(_.isInstanceOf[FileSourceScanExec]).isDefined
    assert(collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan)
    assert(collect(plan) { case e: ShuffleExchangeExec if overState(e) => e }.size == 1, plan)
    assert(collect(plan) {
      case s: SortExec if overState(s) => s
      case w: WindowGroupLimitExec if overState(w) => w
    }.isEmpty, plan)
    assert(collect(plan) { case j: ShuffledHashJoinExec if j.joinType == FullOuter => j }.size == 1, plan)
    val jobs = jobsDuring(store.merge(batch, 1))
    assert(schemaJobs(jobs) == 0, jobs)
    assert(jobs.size <= 3, jobs)
    assertStored(store, Seq(("A", "3", 3), ("B", "2", 2), ("C", "2", 5)))
  }
}
