package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.{Caches, Tables}

/** Incremental IVF-PQ index maintenance: arriving vectors are assigned and
  * encoded against the PINNED quantizers and appended to the inverted
  * lists (grow-only; coarse/fine quantizers move only on an explicit
  * retrain). The contract has three legs:
  *  - stream-append parity: rows in the delta store are bit-identical to a
  *    one-shot batch encode of the same vectors, regardless of batching;
  *  - replay safety: a re-delivered epoch appends byte-identical rows and
  *    the read-side vec_id dedup makes them invisible;
  *  - serving parity: querying base ∪ delta through the cell-bounded scan
  *    equals serving a store that held all delta rows at once, and an
  *    exact-duplicate probe of an appended vector finds it at cosine 1. */
class IndexMaintenanceSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  // delta arrivals: real fixture embeddings under fresh ids (offset far
  // past the base id space), so cells/codes are nontrivial and a probe's
  // exact twin exists in the base corpus
  private def deltaRows(n: Int): Seq[(Long, Seq[Float])] = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].head(n).toSeq
      .map { case (id, e) => (id + 1000000L, e) }
  }

  test("streamed appends equal a one-shot batch encode and replay is invisible") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val store = java.nio.file.Files
      .createTempDirectory("graft-index-delta").toString + "/lists"
    val rows = deltaRows(30)

    val in = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.appendIndexStream(
        in.toDF().toDF("vec_id", "embedding"), spark, dir, store)
      .start()
    // three unordered micro-batches
    in.addData(rows.slice(10, 20): _*); q.processAllAvailable()
    in.addData(rows.slice(0, 10): _*);  q.processAllAvailable()
    in.addData(rows.slice(20, 30): _*); q.processAllAvailable()
    q.stop()

    val streamed = Similarity.readIndexDelta(spark, store)
      .orderBy($"vec_id").collect().map(_.toSeq).toSeq
    val batch = Similarity.encodeForIndex(spark, dir,
        rows.toDF("vec_id", "embedding"))
      .orderBy($"vec_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch, "delta store differs from one-shot batch encode")
    assert(streamed.size == 30)

    // replay: re-deliver epoch 0's rows under its original epoch stamp;
    // the appended duplicates are byte-identical and collapse on the
    // (vec_id, epoch) key behind the read-side dedup
    Similarity.encodeForIndex(spark, dir,
        rows.slice(10, 20).toDF("vec_id", "embedding"))
      .withColumn(
        "epoch", org.apache.spark.sql.functions.lit(0L))
      .write.mode("append").parquet(store)
    val replayed = Similarity.readIndexDelta(spark, store)
      .orderBy($"vec_id").collect().map(_.toSeq).toSeq
    assert(replayed == batch, "epoch replay leaked through the vec_id dedup")

    // serving parity + recall of the appended rows: probe with a base
    // vector whose exact duplicate was appended — the delta twin must
    // surface at cosine 1 through the cell-bounded scan
    val probes = {
      val c = Similarity.corpus(spark, dir)
      c.filter($"vec_id" === 0L)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    }
    val served = Similarity.topkIvfPqWithDelta(spark, dir, probes,
      rows.toDF("vec_id", "embedding"), store)
    val top = served.orderBy($"rank").collect()
    assert(top.nonEmpty, "delta-serving returned nothing")
    assert(top.exists(r => r.getLong(r.fieldIndex("neighbor_id")) == 1000000L &&
        math.abs(r.getDouble(r.fieldIndex("cosine")) - 1.0) < 1e-9),
      s"appended exact twin of the probe not in top-k: ${top.map(_.toSeq).mkString(", ")}")
    Caches.releaseAll()
  }

  test("lexical segments: streamed postings equal batch encode, pinned-idf serving retrieves appends") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val store = java.nio.file.Files
      .createTempDirectory("graft-postings-delta").toString + "/seg"
    // re-uploaded fixture docs under fresh ids — tokenization nontrivial,
    // and a base query's rarest terms exist verbatim in its appended twin
    val rows: Seq[(Long, String)] = Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].head(20).toSeq
      .map { case (id, t) => (id + 1000000L, t) }

    val in = MemoryStream[(Long, String)]
    val q = TextAnalysis.appendPostingsStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, store)
      .start()
    in.addData(rows.slice(8, 20): _*); q.processAllAvailable()
    in.addData(rows.slice(0, 8): _*);  q.processAllAvailable()
    q.stop()

    val streamed = TextAnalysis.readPostingsDelta(spark, store)
      .orderBy($"doc_id", $"tok").collect().map(_.toSeq).toSeq
    val batch = TextAnalysis.encodeForPostings(rows.toDF("doc_id", "text"))
      .orderBy($"doc_id", $"tok").collect().map(_.toSeq).toSeq
    assert(streamed == batch, "postings segment differs from batch encode")

    // replay epoch 0: byte-identical rows vanish behind the keyed dedup
    TextAnalysis.encodeForPostings(rows.slice(8, 20).toDF("doc_id", "text"))
      .withColumn(
        "epoch", org.apache.spark.sql.functions.lit(0L))
      .write.mode("append").parquet(store)
    assert(TextAnalysis.readPostingsDelta(spark, store)
        .orderBy($"doc_id", $"tok").collect().map(_.toSeq).toSeq == batch,
      "epoch replay leaked through the (doc_id, tok) dedup")

    // pinned-idf serving: query with doc 0's tokens — its appended twin
    // carries the same tf/dl for every query term, so it must tie the base
    // doc's score and surface in the top-k
    val probeToks = Tables.documents(spark, dir)
      .filter($"doc_id" === 0L)
      .select(org.apache.spark.sql.functions.lit(0L).as("query_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.array_distinct(
            graft.functions.Text.tokens($"text"))).as("tok"))
    val served = TextAnalysis.bm25TopKWithDelta(spark, dir, probeToks, store)
      .collect()
    assert(served.nonEmpty)
    assert(served.exists(_.getLong(1) == 1000000L),
      s"appended twin of the probe doc not retrieved: ${served.map(_.toSeq).mkString(", ")}")
    Caches.releaseAll()
  }

  test("fused serving retrieves an appended document through BOTH delta legs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_distinct, col, explode, lit}
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-hybrid-delta").toString
    // the re-uploaded entity: doc 0's text under id+10^6 in the lexical
    // segment, vec 0's embedding under the same fresh id in the dense lists
    val docTwin = Tables.documents(spark, dir).filter($"doc_id" === 0L)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    TextAnalysis.encodeForPostings(docTwin)
      .write.mode("append").parquet(s"$tmp/seg")
    val vecTwin = Tables.embeddings(spark, dir).filter($"vec_id" === 0L)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    Similarity.encodeForIndex(spark, dir, vecTwin)
      .write.mode("append").parquet(s"$tmp/lists")

    // probe = the base entity itself (text + embedding)
    val probe = Tables.documents(spark, dir).filter($"doc_id" === 0L)
      .select(lit(0L).as("query_id"), $"text")
      .crossJoin(Tables.embeddings(spark, dir).filter($"vec_id" === 0L)
        .select($"embedding"))
    val fused = Similarity.hybridRrfWithDelta(spark, dir, probe,
      s"$tmp/seg", vecTwin, s"$tmp/lists").collect()
    val twin = fused.find(_.getLong(fused.head.fieldIndex("doc_id")) == 1000000L)
    assert(twin.isDefined,
      s"appended entity missing from the fused list: ${fused.map(_.toSeq).mkString(", ")}")
    assert(twin.get.getInt(twin.get.fieldIndex("lex_rank")) > 0 &&
        twin.get.getInt(twin.get.fieldIndex("sem_rank")) > 0,
      s"appended entity not retrieved by BOTH legs: ${twin.get.toSeq}")
    Caches.releaseAll()
  }

  test("hybrid serving from cold artifacts matches the in-session build bit-for-bit") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-cold-hybrid").toString
    Similarity.saveIndex(spark, dir, s"$tmp/dense")
    TextAnalysis.savePostingsIndex(spark, dir, s"$tmp/lex")
    // (query_id, text, embedding) probes — documents and embeddings share
    // the id space
    def queries = Tables.documents(spark, dir).filter($"doc_id" % 250 === 0)
      .select($"doc_id".as("query_id"), $"text")
      .join(Tables.embeddings(spark, dir)
        .select($"vec_id".as("query_id"), $"embedding"), "query_id")
    val inSession = Similarity.hybridRrfFor(spark, dir, queries)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    // a fresh serving session holds NONE of the build's memos: both legs
    // must come entirely from the persisted artifacts
    Caches.releaseAll()
    val fromSaved = Similarity.hybridRrfFromSaved(spark, dir, queries,
        s"$tmp/dense", s"$tmp/lex")
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(fromSaved.nonEmpty)
    assert(fromSaved == inSession,
      "cold-artifact hybrid serving differs from the in-session build")
    Caches.releaseAll()
  }

  test("cold-artifact serving stream answers query batches like the direct call") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-cold-serve").toString
    Similarity.saveIndex(spark, dir, s"$tmp/dense")
    TextAnalysis.savePostingsIndex(spark, dir, s"$tmp/lex")
    val probes: Seq[(Long, String, Seq[Float])] = {
      val docs = Tables.documents(spark, dir).filter($"doc_id" % 250 === 0)
        .select($"doc_id", $"text")
      docs.join(Tables.embeddings(spark, dir)
          .select($"vec_id".as("doc_id"), $"embedding"), "doc_id")
        .select($"doc_id", $"text", $"embedding")
        .as[(Long, String, Seq[Float])].collect().toSeq
    }
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = Similarity.serveRetrievalStreamFromSaved(
        in.toDF().toDF("query_id", "text", "embedding"), spark, dir,
        s"$tmp/dense", s"$tmp/lex", s"$tmp/out")
      .start()
    in.addData(probes: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$tmp/out")
      .drop("batch_id").orderBy($"query_id", $"rank")
      .collect().map(_.toSeq).toSeq
    val direct = Similarity.hybridRrfFromSaved(spark, dir,
        probes.toDF("query_id", "text", "embedding"),
        s"$tmp/dense", s"$tmp/lex")
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == direct,
      "cold-serving stream output differs from the direct composition")
    Caches.releaseAll()
  }

  test("compaction folds the delta into the base bit-equally and replayed epochs stay invisible") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    val (idx, store) = (s"$tmp/idx", s"$tmp/store")

    // ---- dense leg
    Similarity.saveIndex(spark, dir, idx)
    val nBase = spark.read.parquet(s"$idx/lists").count()
    val rows = deltaRows(30)
    Similarity.encodeForIndex(spark, dir, rows.slice(0, 15).toDF("vec_id", "embedding"))
      .withColumn("epoch", lit(0L)).write.mode("append").parquet(store)
    Similarity.encodeForIndex(spark, dir, rows.slice(15, 30).toDF("vec_id", "embedding"))
      .withColumn("epoch", lit(1L)).write.mode("append").parquet(store)
    val dv = rows.toDF("vec_id", "embedding")
    def probes = {
      val c = Similarity.corpus(spark, dir)
      c.filter($"vec_id" % 250 === 0)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    }
    def serve() = Similarity
      .topkIvfPqFromSavedWithDelta(spark, dir, probes, idx, store, dv)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    val before = serve()
    assert(before.nonEmpty)
    Similarity.compactIndex(spark, idx, store)
    assert(spark.read.parquet(s"$idx/lists").count() == nBase + 30,
      "compaction did not fold the delta rows into the base lists")
    assert(spark.read.parquet(store).count() == 0,
      "compaction left rows in the delta store")
    assert(serve() == before,
      "serving after compaction differs from serving before")
    // replay a pre-compaction epoch into the truncated store: its rows are
    // already merged into the base — the serving-side merge must hide them
    Similarity.encodeForIndex(spark, dir, rows.slice(15, 30).toDF("vec_id", "embedding"))
      .withColumn("epoch", lit(1L)).write.mode("append").parquet(store)
    val replayed = serve()
    assert(replayed == before,
      "a replayed epoch leaked through the post-compaction merge")
    // exactly-once: no (query, neighbor) pair is served twice
    assert(replayed.map(r => (r(0), r(1))).distinct.size == replayed.size)
    // a compacted-in vector is still served: the twin of probe vec 0
    assert(replayed.exists(r => r(1) == 1000000L),
      "appended vector lost by compaction")

    // ---- lexical leg
    val (lexIdx, seg) = (s"$tmp/lex", s"$tmp/seg")
    TextAnalysis.savePostingsIndex(spark, dir, lexIdx)
    val nPost = spark.read.parquet(s"$lexIdx/postings").count()
    val docRows: Seq[(Long, String)] = Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].head(20).toSeq
      .map { case (id, t) => (id + 1000000L, t) }
    TextAnalysis.encodeForPostings(docRows.slice(0, 10).toDF("doc_id", "text"))
      .withColumn("epoch", lit(0L)).write.mode("append").parquet(seg)
    TextAnalysis.encodeForPostings(docRows.slice(10, 20).toDF("doc_id", "text"))
      .withColumn("epoch", lit(1L)).write.mode("append").parquet(seg)
    val nDelta = TextAnalysis.readPostingsDelta(spark, seg).count()
    def probeToks = Tables.documents(spark, dir).filter($"doc_id" === 0L)
      .select(lit(0L).as("query_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.array_distinct(
            graft.functions.Text.tokens($"text"))).as("tok"))
    def serveLex() = TextAnalysis
      .bm25TopKFromSaved(spark, lexIdx, probeToks, Some(seg))
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    val lexBefore = serveLex()
    assert(lexBefore.exists(_(1) == 1000000L),
      "appended doc twin not retrieved before compaction")
    TextAnalysis.compactPostings(spark, lexIdx, seg)
    assert(spark.read.parquet(s"$lexIdx/postings").count() == nPost + nDelta)
    assert(spark.read.parquet(seg).count() == 0)
    assert(serveLex() == lexBefore,
      "lexical serving after compaction differs from before")
    TextAnalysis.encodeForPostings(docRows.slice(0, 10).toDF("doc_id", "text"))
      .withColumn("epoch", lit(0L)).write.mode("append").parquet(seg)
    assert(serveLex() == lexBefore,
      "a replayed postings epoch leaked through the post-compaction merge")
    Caches.releaseAll()
  }

  test("drift advisory stays quiet on in-distribution appends and trips under drift") {
    import spark.implicits._
    import org.apache.spark.sql.functions.max
    Caches.releaseAll()
    // quiet: a byte-identical re-upload of existing ids — the delta rows
    // deterministically replace their base twins, serving is unchanged,
    // mean recall == baseline
    val same = Tables.embeddings(spark, dir)
      .filter($"vec_id" % 7 === 0).select($"vec_id", $"embedding")
    val quiet = Similarity.indexDriftCheckFrames(spark, dir, same,
      Similarity.encodeForIndex(spark, dir, same))
    assert(!quiet.agg(max($"retrain_advised")).as[Boolean].head(),
      "advisory tripped on an in-distribution (identity) append")

    // drift: every probe's OWN truth neighborhood re-arrives under fresh
    // ids — the served top-k fills with twins, base-truth recall collapses
    val crowd = Similarity.topkBruteForce(spark, dir)
      .select($"neighbor_id".as("vec_id")).distinct()
      .join(Tables.embeddings(spark, dir), "vec_id")
      .select(($"vec_id" + 2000000L).as("vec_id"), $"embedding")
    val drifted = Similarity.indexDriftCheckFrames(spark, dir, crowd,
      Similarity.encodeForIndex(spark, dir, crowd))
    assert(drifted.agg(max($"retrain_advised")).as[Boolean].head(),
      "advisory failed to trip when probe neighborhoods were crowded out")
    Caches.releaseAll()
  }

  test("maintenance stream restarts across a compaction boundary; vectors served exactly once") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-maint").toString
    val (idx, maint, src, cp) =
      (s"$tmp/idx", s"$tmp/maint", s"$tmp/src", s"$tmp/cp")
    Similarity.saveIndex(spark, dir, idx)
    val nBase = spark.read.parquet(s"$idx/lists").count()
    val rows = deltaRows(30)
    def arrive(slice: Seq[(Long, Seq[Float])]): Unit =
      slice.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val in = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val q = Similarity
        .maintainIndexStream(in, spark, dir, idx, maint, compactAt = 0.01)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def serve() = Similarity.topkIvfPqFromSavedWithDelta(spark, dir,
        Similarity.corpus(spark, dir).filter($"vec_id" === 0L)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn")),
        idx, s"$maint/lists",
        Similarity.readVecsDelta(spark, s"$maint/vecs"))
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq

    // run 1: two epochs, each past the compaction threshold (0.01·base)
    arrive(rows.slice(0, 10)); arrive(rows.slice(10, 20))
    runOnce()
    assert(spark.read.parquet(s"$idx/lists").count() == nBase + 20,
      "maintenance stream did not compact both epochs into the base")
    val afterRun1 = serve()
    assert(afterRun1.exists(r => r(1) == 1000000L && r(3) == 1),
      s"probe's appended twin not served after run 1: $afterRun1")
    // advisory row written per epoch (replay-safe reader)
    assert(Similarity.readAdvisory(spark, maint).count() == 2)
    // the raw-vector lake partition coalesced at the compaction cadence:
    // one sorted file, not one file set per batch
    assert(graft.operators.CorpusLake
        .dataFileCount(spark, s"$maint/vecs") == 1L,
      "compaction did not coalesce the vecs lake partition")

    // restart from the same checkpoint with one NEW file: committed epochs
    // are not re-processed (their rows live in the compacted base now)
    arrive(rows.slice(20, 30))
    runOnce()
    assert(spark.read.parquet(s"$idx/lists").count() == nBase + 30,
      "restart re-appended committed epochs or missed the new one")
    val afterRun2 = serve()
    assert(afterRun2.map(r => (r(0), r(1))).distinct.size == afterRun2.size,
      "a vector is served twice after restart across the compaction boundary")
    assert(afterRun2.exists(r => r(1) == 1000000L && r(3) == 1))

    // simulate a crash-replay of a PRE-compaction epoch landing in the
    // (now truncated) store: byte-identical rows, hidden by the merge
    Similarity.encodeForIndex(spark, dir, rows.slice(0, 10).toDF("vec_id", "embedding"))
      .withColumn("epoch", org.apache.spark.sql.functions.lit(0L))
      .write.mode("append").parquet(s"$maint/lists")
    assert(serve() == afterRun2,
      "replayed pre-compaction epoch leaked into serving")

    // the advisory is NOT blind to compacted rows: the last in-stream
    // advisory (epoch 2, computed pre-compaction over base∪store) must
    // equal a post-hoc drift check over the SAME serving leg now that its
    // rows live in the compacted base — serve-before ≡ serve-after makes
    // them one measurement
    import org.apache.spark.sql.functions.{avg, max => fmax}
    val lastAdvisory = Similarity.readAdvisory(spark, maint)
      .orderBy($"epoch".desc).select($"mean_recall").as[Double].head()
    val postHoc = Similarity.indexDriftCheckSaved(spark, dir, idx,
        s"$maint/lists", Similarity.readVecsDelta(spark, s"$maint/vecs"))
      .agg(avg($"recall")).as[Double].head()
    assert(math.abs(lastAdvisory - postHoc) < 1e-9,
      s"advisory went blind across compaction: in-stream $lastAdvisory vs post-hoc $postHoc")
    Caches.releaseAll()
  }

  test("lexical maintenance stream restarts across a compaction boundary; docs retrieved exactly once") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lex-maint").toString
    val (lexIdx, maint, src, cp) =
      (s"$tmp/lex", s"$tmp/maint", s"$tmp/src", s"$tmp/cp")
    TextAnalysis.savePostingsIndex(spark, dir, lexIdx)
    val nBase = spark.read.parquet(s"$lexIdx/postings").count()
    val docRows: Seq[(Long, String)] = Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].head(30).toSeq
      .map { case (id, t) => (id + 1000000L, t) }
    def arrive(slice: Seq[(Long, String)]): Unit =
      slice.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val in = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val q = TextAnalysis
        .maintainPostingsStream(in, spark, lexIdx, maint, compactAt = 0.0001)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def probeToks = Tables.documents(spark, dir).filter($"doc_id" === 0L)
      .select(org.apache.spark.sql.functions.lit(0L).as("query_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.array_distinct(
            graft.functions.Text.tokens($"text"))).as("tok"))
    def serve() = {
      // the loaded-artifact memo must not outlive a compaction below
      Caches.invalidate(spark, s"text-bm25-index-saved|$lexIdx")
      TextAnalysis.bm25TopKFromSaved(spark, lexIdx, probeToks, Some(s"$maint/seg"))
        .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    }

    arrive(docRows.slice(0, 10)); arrive(docRows.slice(10, 20))
    runOnce()
    assert(spark.read.parquet(s"$lexIdx/postings").count() > nBase,
      "lexical maintenance stream did not compact the segments into the base")
    assert(spark.read.parquet(s"$maint/seg").count() == 0,
      "segment store not truncated after compaction")
    val afterRun1 = serve()
    assert(afterRun1.exists(_(1) == 1000000L),
      s"doc 0's appended twin not retrieved after run 1: $afterRun1")

    // restart from the same checkpoint: only the new file is processed
    arrive(docRows.slice(20, 30))
    runOnce()
    val afterRun2 = serve()
    assert(afterRun2.map(r => (r(0), r(1))).distinct.size == afterRun2.size,
      "a doc is retrieved twice after restart across the compaction boundary")
    assert(afterRun2.exists(_(1) == 1000000L))

    // crash-replay of a pre-compaction epoch into the truncated store
    TextAnalysis.encodeForPostings(docRows.slice(0, 10).toDF("doc_id", "text"))
      .withColumn("epoch", org.apache.spark.sql.functions.lit(0L))
      .write.mode("append").parquet(s"$maint/seg")
    assert(serve() == afterRun2,
      "replayed pre-compaction postings epoch leaked into serving")
    Caches.releaseAll()
  }

  test("lexical drift advisory: small appends stay quiet, a df-shifting flood trips it, the fold records it") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lex-drift").toString
    val (lexIdx, maint, src, cp) =
      (s"$tmp/lex", s"$tmp/maint", s"$tmp/src", s"$tmp/cp")
    TextAnalysis.savePostingsIndex(spark, dir, lexIdx)

    // a SMALL in-vocabulary delta (2 re-arrived docs) barely moves the
    // statistics: pinned-idf serving matches the reindex truth — quiet
    val tiny = Tables.documents(spark, dir)
      .filter($"doc_id".isin(3L, 4L))
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val quiet = TextAnalysis.lexDriftCheckFrames(spark, dir, tiny,
      TextAnalysis.encodeForPostings(tiny))
    val (quietMean, quietAdvised) = quiet
      .agg(org.apache.spark.sql.functions.avg($"recall"),
        org.apache.spark.sql.functions.max($"retrain_advised"))
      .as[(Double, Boolean)].head()
    assert(!quietAdvised && quietMean > 0.95,
      s"tiny in-vocabulary delta tripped the advisory: mean $quietMean")

    // a df-reordering flood (every 10th doc re-arrived — 10% of the
    // corpus on a flat vocabulary) bends term selection and idf until
    // served lists measurably diverge from the reindex truth — trips
    val flood = Tables.documents(spark, dir)
      .filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val (floodMean, floodAdvised) = TextAnalysis
      .lexDriftCheckFrames(spark, dir, flood,
        TextAnalysis.encodeForPostings(flood))
      .agg(org.apache.spark.sql.functions.avg($"recall"),
        org.apache.spark.sql.functions.max($"retrain_advised"))
      .as[(Double, Boolean)].head()
    assert(floodAdvised && floodMean < quietMean,
      s"df flood did not trip the advisory: mean $floodMean vs quiet $quietMean")

    // the maintenance loop records the advisory at the fold, measured on
    // the REAL saved-artifact leg — and a post-hoc check over the same
    // state agrees exactly (the not-blind-across-compaction invariant)
    val docRows = Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].head(10).toSeq
      .map { case (id, t) => (id + 2000000L, t) }
    docRows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(src)
    val in = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
    val q = TextAnalysis
      .maintainPostingsStream(in, spark, lexIdx, maint,
        compactAt = 0.0001, adviseDir = Some(dir))
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.read.parquet(s"$maint/advisory")
      .select($"mean_recall", $"retrain_advised")
      .as[(Double, Boolean)].collect()
    assert(rows.nonEmpty, "no advisory row landed at the fold")
    Caches.invalidate(spark, s"text-bm25-index-saved|$lexIdx")
    val postHoc = TextAnalysis.lexDriftCheckSaved(spark, dir, lexIdx,
        s"$maint/seg", Dedup.readDocsDelta(spark, s"$maint/docs"))
      .agg(org.apache.spark.sql.functions.avg($"recall")).as[Double].head()
    assert(math.abs(rows.last._1 - postHoc) < 1e-9,
      s"advisory went blind across the fold: in-stream ${rows.last._1} vs post-hoc $postHoc")
    Caches.releaseAll()
  }

  test("cold fused serving with live deltas survives compaction of both legs unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-fused-lifecycle").toString
    Similarity.saveIndex(spark, dir, s"$tmp/dense")
    TextAnalysis.savePostingsIndex(spark, dir, s"$tmp/lex")
    // the appended entity: doc 0's text + vec 0's embedding under a fresh id
    val docTwin = Tables.documents(spark, dir).filter($"doc_id" === 0L)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    TextAnalysis.encodeForPostings(docTwin)
      .withColumn("epoch", lit(0L)).write.mode("append").parquet(s"$tmp/seg")
    val vecTwin = Tables.embeddings(spark, dir).filter($"vec_id" === 0L)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    Similarity.encodeForIndex(spark, dir, vecTwin)
      .withColumn("epoch", lit(0L)).write.mode("append").parquet(s"$tmp/lists")

    def probe = Tables.documents(spark, dir).filter($"doc_id" === 0L)
      .select(lit(0L).as("query_id"), $"text")
      .crossJoin(Tables.embeddings(spark, dir).filter($"vec_id" === 0L)
        .select($"embedding"))
    def fused() = Similarity.hybridRrfFromSaved(spark, dir, probe,
        s"$tmp/dense", s"$tmp/lex",
        segStore = Some(s"$tmp/seg"), listsStore = Some(s"$tmp/lists"),
        deltaVecs = Some(vecTwin))
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq

    val before = fused()
    val twin = before.find(_(1) == 1000000L)
    assert(twin.isDefined && twin.get(2) != 0 && twin.get(3) != 0,
      s"appended entity not retrieved through BOTH cold delta legs: $before")

    // compact BOTH legs; the fused list must not move a bit
    Similarity.compactIndex(spark, s"$tmp/dense", s"$tmp/lists")
    TextAnalysis.compactPostings(spark, s"$tmp/lex", s"$tmp/seg")
    assert(fused() == before,
      "fused serving changed across compaction of the two legs")
    Caches.releaseAll()
  }

  test("an interrupted compaction swap is recovered on the next read") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-swap-crash").toString
    val idx = s"$tmp/idx"
    Similarity.saveIndex(spark, dir, idx)
    def probes = Similarity.corpus(spark, dir).filter($"vec_id" % 250 === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val before = Similarity.topkIvfPqFromSaved(spark, dir, probes, idx)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    // simulate the crash window: the merged artifact is fully written to
    // lists_compacting, the old lists dir is deleted, the rename never ran
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/lists"),
      new org.apache.hadoop.fs.Path(s"$idx/lists_compacting")))
    // the next read completes the swap and serves identically
    val after = Similarity.topkIvfPqFromSaved(spark, dir, probes, idx)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(after == before,
      "recovered artifact serves differently after an interrupted swap")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/lists")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$idx/lists_compacting")),
      "resolver did not promote the completed merge back to the main path")

    // a PARTIAL first-ever write (crash mid-write: no _SUCCESS marker, no
    // main dir to fall back on) must NOT be promoted — promoting torn
    // parquet would brick the artifact; completing the write (the marker
    // lands) makes the same dir promotable
    val part = new org.apache.hadoop.fs.Path(s"$idx/fresh_compacting")
    fs.mkdirs(part)
    val junk = fs.create(new org.apache.hadoop.fs.Path(part, "part-0.parquet"))
    junk.write("not parquet".getBytes); junk.close()
    graft.storage.Artifact.resolve(spark, idx, "fresh")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/fresh")),
      "resolver promoted a partial (no _SUCCESS) first write")
    fs.create(new org.apache.hadoop.fs.Path(part, "_SUCCESS")).close()
    graft.storage.Artifact.resolve(spark, idx, "fresh")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/fresh")),
      "resolver did not promote a completed (marker present) first write")
    Caches.releaseAll()
  }

  test("bounded store truncate keeps rows above the fold watermark") {
    import spark.implicits._
    // a compactor may only drop epochs its fold-read could have seen:
    // rows a live appender lands after the watermark must survive
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-bounded-trunc").toString
    val store = s"$tmp/store"
    Seq((1L, "a", 0L), (2L, "b", 1L), (3L, "late", 7L))
      .toDF("vec_id", "payload", "epoch")
      .write.mode("overwrite").parquet(store)
    graft.storage.DeltaStore.truncateStoreThrough(spark, store, Some(1L))
    val left = spark.read.parquet(store)
      .select($"vec_id", $"epoch").as[(Long, Long)].collect().toSet
    assert(left == Set((3L, 7L)),
      s"bounded truncate kept the wrong rows: $left")
    // an epoch-less store has no watermark: full truncate, schema intact
    Seq((1L, "a")).toDF("vec_id", "payload")
      .write.mode("overwrite").parquet(store)
    graft.storage.DeltaStore.truncateStoreThrough(spark, store, None)
    assert(spark.read.parquet(store).count() == 0)
    assert(spark.read.parquet(store).columns.toSeq ==
      Seq("vec_id", "payload"))
  }

  test("retrain over the grown lake rebuilds quantizers and serves appends from its base") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-retrain").toString
    val vecs = deltaRows(20)
    vecs.toDF("vec_id", "embedding").withColumn("epoch", lit(0L))
      .write.mode("overwrite").parquet(s"$tmp/vecs")
    Similarity.retrainIndex(spark, dir, s"$tmp/vecs", s"$tmp/idx2")
    // the retrained lists hold the WHOLE grown lake — appends are base
    // rows now, no delta store in the serving path
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    assert(spark.read.parquet(s"$tmp/idx2/lists").count() == n + 20)
    val probes2 = Similarity.corpus(spark, dir).filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val lake = Similarity.lakeWithDelta(spark, dir,
      Similarity.readVecsDelta(spark, s"$tmp/vecs"))
    val served = Similarity.pqRerank(lake, probes2,
        Similarity.ivfPqAdcScanSaved(spark, probes2, s"$tmp/idx2", None))
      .collect()
    assert(served.nonEmpty)
    assert(served.exists(r => r.getLong(1) == 1000000L &&
        math.abs(r.getDouble(2) - 1.0) < 1e-9),
      s"appended twin not served from the retrained base: ${served.map(_.toSeq).mkString(", ")}")
    Caches.releaseAll()
  }

  test("dedup index: persisted buckets serve arrivals; streamed appends + compaction + replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.lit
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-dedup-idx").toString
    val (idx, store) = (s"$tmp/idx", s"$tmp/store")
    Dedup.saveDedupIndex(spark, dir, idx)

    // persisted artifact ≡ in-session index: the oracled serve twin's rows
    val stride = Dedup.incrementalStride(Tables.nDocs(spark, dir))
    val arrivals = Tables.documents(spark, dir)
      .filter($"doc_id" % stride === 0).select($"doc_id", $"text")
    // the serving core is unordered (the sort lives in the oracle entry
    // dedupIndexServe) — compare as sorted row sets
    val fromSaved = Dedup.dedupArrivalsFromSaved(spark, dir, arrivals, idx)
      .collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val inSession = Dedup.dedupIndexServe(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromSaved == inSession,
      "persisted dedup index serves differently from the in-session build")
    assert(fromSaved.nonEmpty)

    // stream a re-uploaded twin of doc 0 into the delta store (two epochs,
    // second is a same-id CHANGED re-upload — latest must win)
    val doc0 = Tables.documents(spark, dir).filter($"doc_id" === 0L)
      .select($"text").as[String].head()
    val in = MemoryStream[(Long, String)]
    val q = Dedup.appendDedupIndexStream(
        in.toDF().toDF("doc_id", "text"), spark, store)
      .start()
    in.addData((1000000L, "unrelated placeholder text that will be replaced"))
    q.processAllAvailable()
    in.addData((1000000L, doc0)); q.processAllAvailable()
    q.stop()

    // an arriving copy of doc 0's text must match the base doc AND the
    // appended twin's LATEST version, both at jaccard 1
    val probe = Seq((3000000L, doc0)).toDF("doc_id", "text")
    val deltaDocs = Seq((1000000L, doc0)).toDF("doc_id", "text")
    def serve() = Dedup.dedupArrivalsFromSaved(spark, dir, probe, idx,
        Some(store), Some(deltaDocs))
      .collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val before = serve()
    assert(before.exists(r => r(1) == 0L && r(2) == 1.0),
      s"base twin of the probe not found: $before")
    assert(before.exists(r => r(1) == 1000000L && r(2) == 1.0),
      s"appended twin's latest version not found: $before")

    Dedup.compactDedupIndex(spark, idx, store)
    assert(spark.read.parquet(store).count() == 0)
    assert(serve() == before,
      "dedup serving changed across compaction")
    // crash-replay of the twin's final version into the truncated store:
    // byte-identical bucket rows, hidden by the doc-level merge
    val replay = MemoryStream[(Long, String)]
    val q2 = Dedup.appendDedupIndexStream(
        replay.toDF().toDF("doc_id", "text"), spark, store)
      .start()
    replay.addData((1000000L, doc0)); q2.processAllAvailable()
    q2.stop()
    assert(serve() == before,
      "replayed dedup epoch leaked through the post-compaction merge")

    // the maintenance LOOP: an arriving doc appends (buckets AND its raw
    // text — the doc-lake partition the verify reads) and at the tiny
    // threshold compacts inline — the store drains, the base grows, and
    // the newly ingested doc is immediately matchable with NO hand-fed
    // text (readDocsDelta supplies it)
    val maint = s"$tmp/maint"
    val nBase = spark.read.parquet(s"$idx/buckets").count()
    val loop = MemoryStream[(Long, String)]
    val q3 = Dedup.maintainDedupIndexStream(
        loop.toDF().toDF("doc_id", "text"), spark, idx, maint,
        compactAt = 0.000001)
      .start()
    loop.addData((2000000L, doc0)); q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(s"$maint/buckets").count() == 0,
      "maintenance loop did not compact the appended buckets")
    assert(spark.read.parquet(s"$idx/buckets").count() > nBase)
    // the doc-lake partition coalesced at the compaction cadence
    assert(graft.operators.CorpusLake
        .dataFileCount(spark, s"$maint/docs") == 1L,
      "compaction did not coalesce the docs lake partition")
    val after = Dedup.dedupArrivalsFromSaved(spark, dir, probe, idx,
        Some(store), Some(deltaDocs.unionByName(
          Dedup.readDocsDelta(spark, s"$maint/docs"))))
      .collect().map(_.toSeq).toSeq
    assert(after.exists(r => r(1) == 2000000L && r(2) == 1.0),
      s"loop-ingested doc not matchable from the compacted base: $after")
    Caches.releaseAll()
  }

  test("a persisted index serves bit-identically to the in-session build") {
    import spark.implicits._
    Caches.releaseAll()
    val idx = java.nio.file.Files
      .createTempDirectory("graft-index-save").toString
    Similarity.saveIndex(spark, dir, idx)
    def probes = {
      val c = Similarity.corpus(spark, dir)
      c.filter($"vec_id" % 500 === 0)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    }
    val inSession = Similarity.topkIvfPqFor(spark, dir, probes)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    // a fresh serving session holds none of the build's memos
    Caches.releaseAll()
    val fromSaved = Similarity.topkIvfPqFromSaved(spark, dir, probes, idx)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(fromSaved == inSession,
      "persisted-index serving differs from the in-session build")
    assert(fromSaved.nonEmpty)
    Caches.releaseAll()
  }

  test("cell drift from persisted artifacts: skewed arrivals flag their cell, tombstones excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-cell-drift").toString
    val (idx, store) = (s"$tmp/idx", s"$tmp/store")
    Similarity.saveIndex(spark, dir, idx)
    // no delta yet: nothing has arrived, nothing to compare
    assert(Similarity.cellDriftFromIndex(spark, idx, store).count() == 0)
    // skewed arrivals: every vector of ONE cell re-arrives under fresh
    // ids — the delta's distribution concentrates 100% of its mass there
    val lists = spark.read.parquet(s"$idx/lists")
    val targetCell = lists.groupBy($"cent_id").count()
      .orderBy($"count".desc, $"cent_id".asc)
      .select($"cent_id").as[Long].head()
    val skewIds = lists.filter($"cent_id" === targetCell)
      .select($"vec_id").as[Long].collect().toSeq
    val skew = Tables.embeddings(spark, dir)
      .filter($"vec_id".isin(skewIds: _*))
      .select(($"vec_id" + 3000000L).as("vec_id"), $"embedding")
    Similarity.encodeForIndex(spark, dir, skew)
      .withColumn("epoch", lit(0L))
      .write.mode("append").parquet(store)
    val drift = Similarity.cellDriftFromIndex(spark, idx, store)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val hot = drift(targetCell)
    assert(hot._3 == skewIds.size.toLong && hot._4 > 0 && hot._5,
      s"concentrated cell not flagged: $hot")
    // every OTHER populated cell lost its entire delta share
    assert(drift.values.filter(_._1 != targetCell)
      .forall(r => r._3 == 0L && r._4 <= 0),
      s"drift rows: ${drift.values.toSeq.sortBy(_._1)}")
    // a retraction tombstone (null cell, later epoch) leaves the
    // histogram: the deleted arrival stops counting toward drift
    spark.read.parquet(store).limit(1)
      .withColumn("cent_id", lit(null).cast("long"))
      .withColumn("epoch", lit(1L))
      .write.mode("append").parquet(store)
    val after = Similarity.cellDriftFromIndex(spark, idx, store)
      .filter($"cell_id" === targetCell)
      .select($"n_delta").as[Long].head()
    assert(after == skewIds.size.toLong - 1,
      s"tombstoned arrival still counted: $after")
    Caches.releaseAll()
  }
}
