package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{array_distinct, explode, lit}
import graft.functions.Text.tokens
import graft.operators.{CorpusLake, Curate, TextAnalysis}
import graft.sources.{Caches, Tables}

/** The lake's consumption + retention half: snapshot diff, incremental
  * change reads between committed versions, lake-commit-driven lexical
  * index refresh (cursor protocol, crash replay), and vacuum (orphan
  * cleanup, history collapse, retention-floor refusals). */
class LakeMaintenanceSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")
  private val docAText = words("alpha", 40).mkString(" ")
  private val docBText = words("beta", 40).mkString(" ")
  private val shadeText = words("shade", 40).mkString(" ")

  test("snapshotDiff classifies insert/update/delete and drops unchanged") {
    import spark.implicits._
    // rows 5/6 pin the null-text contract: presence is a flag, not the
    // text hash — an unchanged null-text doc is NOT a change, and a
    // text→null transition is an update (the doc still exists)
    val v1 = Seq((1L, "one"), (2L, "two"), (3L, "three"),
        (5L, null.asInstanceOf[String]), (6L, "six"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "one"), (2L, "two CHANGED"), (4L, "four"),
        (5L, null.asInstanceOf[String]), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = CorpusLake.snapshotDiff(v1, v2)
      .select($"doc_id", $"change_type", $"old_len", $"new_len")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.get(2), r.get(3))).toMap
    assert(got == Map(
      2L -> ("update", 3L, 11L),
      3L -> ("delete", 5L, null),
      4L -> ("insert", null, 4L),
      6L -> ("update", 3L, null)), s"diff: $got")
  }

  test("lake CDC + postings refresh: change windows, cursor protocol, LWW shadow serving") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lake-maint").toString
    val (idx, corpus, maint, lex) =
      (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint", s"$tmp/lex")
    CorpusLake.initCorpus(spark, dir, idx)

    // BM25 serving under PINNED base statistics drops query terms absent
    // from the base vocabulary, so the arriving docs are composed OF
    // base-vocabulary words — the fixture corpus is random text over a
    // ~31-word vocabulary, so three different cycle strides give texts
    // that are pairwise far in shingle space (admitted, not near-dups)
    // while every token stays in-vocabulary
    val pool = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("tok")).distinct()
      .orderBy($"tok").as[String].collect()
    def cycled(stride: Int): String =
      (0 until 40).map(i => pool((i * stride) % pool.length)).mkString(" ")
    val docAText = cycled(1)
    val docBText = cycled(5)
    val shadeText = cycled(11)

    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint)
      .start()
    in.addData((2000001L, docAText)); q.processAllAvailable()
    // batch 2: a fresh doc plus an LWW re-upload of BASE doc 0 under new
    // unique text — admitted, shadowing the base row
    in.addData((2000002L, docBText), (0L, shadeText)); q.processAllAvailable()
    q.stop()
    val Seq(v0, v1) = CorpusLake.manifest(spark, corpus)
      .orderBy($"version").select($"version").as[Long].collect().toSeq

    def changes(from: Long, to: Option[Long]) =
      CorpusLake.readCorpusChanges(spark, dir, corpus, from, to)
        .select($"doc_id", $"change_type", $"version")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
    assert(changes(Long.MinValue, Some(v0)) ==
      Map(2000001L -> ("insert", v0)), "window (-inf, v0]")
    assert(changes(v0, None) == Map(
      2000002L -> ("insert", v1),
      0L -> ("update", v1)), "window (v0, head]: base shadow must be update")
    assert(changes(Long.MinValue, None) == Map(
      2000001L -> ("insert", v0),
      2000002L -> ("insert", v1),
      0L -> ("update", v1)), "full window")

    // lake-driven lexical refresh: base index over the base corpus, then
    // the change feed appends postings segments under the pinned stats
    TextAnalysis.savePostingsIndex(spark, dir, lex)
    assert(CorpusLake.refreshPostingsFromLake(spark, dir, corpus, maint)
      .contains((Long.MinValue, v1)))

    // the refreshed segments ARE the batch encode of the change feed —
    // bit-for-bit, doc-level latest-wins on read
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"dl", $"tok", $"tf")
      .orderBy($"doc_id", $"tok").collect().map(_.toSeq).toSeq
    val feed = CorpusLake.readCorpusChanges(spark, dir, corpus,
      Long.MinValue, None)
    assert(rows(TextAnalysis.readPostingsDelta(spark, s"$maint/seg")) ==
      rows(TextAnalysis.encodeForPostings(feed.select($"doc_id", $"text"))),
      "refreshed segments differ from the change feed's batch encode")
    // the LWW base shadow consumes as a WHOLE-document replacement: doc 0
    // serves exactly its new text's postings, none of the old
    assert(rows(TextAnalysis.readPostingsDelta(spark, s"$maint/seg")
        .filter($"doc_id" === 0L)) ==
      rows(TextAnalysis.encodeForPostings(
        Seq((0L, shadeText)).toDF("doc_id", "text"))),
      "shadowed doc's postings are not the replacement text's encode")

    // serving smoke over the delta-union path + replay determinism
    def serve(probeText: String) = TextAnalysis.bm25TopKFromSaved(spark, lex,
        Seq((0L, probeText)).toDF("query_id", "text")
          .select($"query_id",
            explode(array_distinct(tokens($"text"))).as("tok")),
        Some(s"$maint/seg"))
      .select($"doc_id", $"rank", $"score").orderBy($"rank")
      .collect().map(_.toSeq).toSeq
    val servedA = serve(docAText)
    assert(servedA.nonEmpty)

    // cursor at head: refresh is a no-op
    assert(CorpusLake.refreshPostingsFromLake(spark, dir, corpus, maint)
      .isEmpty, "refresh must no-op at the lake head")
    // crash replay: lose the cursor, re-run — byte-identical re-append
    // collapses on read, serving unchanged
    val fs = new org.apache.hadoop.fs.Path(s"$maint/lake_cursor")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$maint/lake_cursor"), true)
    assert(CorpusLake.refreshPostingsFromLake(spark, dir, corpus, maint)
      .contains((Long.MinValue, v1)))
    assert(serve(docAText) == servedA,
      "replayed refresh changed the served list")
    Caches.releaseAll()
  }

  test("lake-commit-driven dense refresh: encode parity, twin retrievable, cursor replay safe") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lake-dense").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)

    val pool = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("tok")).distinct()
      .orderBy($"tok").as[String].collect()
    val arrivalText =
      (0 until 40).map(i => pool((i * 3) % pool.length)).mkString(" ")
    // the arrival's "inference output": the exact twin of base vector 0,
    // so the appended row must surface at cosine 1 through the delta scan
    val emb = Tables.embeddings(spark, dir)
      .filter($"vec_id" === 0L).select($"embedding")
      .as[Seq[Float]].head()
    def embed(changes: org.apache.spark.sql.DataFrame) =
      changes.select($"doc_id".as("vec_id"),
        org.apache.spark.sql.functions.typedLit(emb).as("embedding"),
        $"version")

    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint)
      .start()
    in.addData((4000001L, arrivalText)); q.processAllAvailable()
    q.stop()
    val v0 = CorpusLake.manifest(spark, corpus)
      .select($"version").as[Long].head()

    assert(CorpusLake
      .refreshIndexFromLake(spark, dir, corpus, maint, embed)
      .contains((Long.MinValue, v0)))
    def delta() = graft.operators.Similarity
      .readIndexDelta(spark, s"$maint/lists")
      .orderBy($"vec_id").collect().map(_.toSeq).toSeq
    val batch = graft.operators.Similarity.encodeForIndex(spark, dir,
        Seq((4000001L, emb)).toDF("vec_id", "embedding"))
      .orderBy($"vec_id").collect().map(_.toSeq).toSeq
    assert(delta() == batch,
      "lake-refreshed dense delta differs from the batch encode")

    // the appended row serves: probing with base vector 0 must surface its
    // exact twin at cosine 1 through the cell-bounded delta-union scan
    val probes = {
      val c = graft.operators.Similarity.corpus(spark, dir)
      c.filter($"vec_id" === 0L)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    }
    val top = graft.operators.Similarity.topkIvfPqWithDelta(spark, dir,
        probes, Seq((4000001L, emb)).toDF("vec_id", "embedding"),
        s"$maint/lists")
      .orderBy($"rank").collect()
    assert(top.exists(r =>
        r.getLong(r.fieldIndex("neighbor_id")) == 4000001L &&
        math.abs(r.getDouble(r.fieldIndex("cosine")) - 1.0) < 1e-9),
      s"lake-refreshed twin not served: ${top.map(_.toSeq).mkString(", ")}")

    // no-op at head; cursor-loss replay collapses byte-identically
    assert(CorpusLake
      .refreshIndexFromLake(spark, dir, corpus, maint, embed).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(s"$maint/dense_lake_cursor")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(
      new org.apache.hadoop.fs.Path(s"$maint/dense_lake_cursor"), true)
    assert(CorpusLake
      .refreshIndexFromLake(spark, dir, corpus, maint, embed)
      .contains((Long.MinValue, v0)))
    assert(delta() == batch, "replayed dense refresh changed the delta")
    Caches.releaseAll()
  }

  test("lake-fed retraction: a deleted doc stops serving through BOTH hybrid legs, across compaction") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lake-retract").toString
    val (idx, corpus, maint, lex, dIdx) = (s"$tmp/idx", s"$tmp/corpus",
      s"$tmp/maint", s"$tmp/lex", s"$tmp/didx")
    CorpusLake.initCorpus(spark, dir, idx)

    // the arriving doc: base-vocabulary text (BM25's pinned stats can
    // score it) whose "inference output" is the exact twin of base
    // vector 0 (the dense leg must surface it at cosine 1 — the loudest
    // possible serving signal to retract)
    val pool = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("tok")).distinct()
      .orderBy($"tok").as[String].collect()
    val docText = (0 until 40).map(i => pool((i * 7) % pool.length))
      .mkString(" ")
    val emb = Tables.embeddings(spark, dir)
      .filter($"vec_id" === 0L).select($"embedding")
      .as[Seq[Float]].head()
    def embed(changes: org.apache.spark.sql.DataFrame) =
      changes.select($"doc_id".as("vec_id"),
        org.apache.spark.sql.functions.typedLit(emb).as("embedding"),
        $"version")
    val docId = 5000001L

    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint)
      .start()
    in.addData((docId, docText)); q.processAllAvailable()
    q.stop()

    // both serving stacks follow the lake's commit feed
    TextAnalysis.savePostingsIndex(spark, dir, lex)
    graft.operators.Similarity.saveIndex(spark, dir, dIdx)
    assert(CorpusLake.refreshPostingsFromLake(spark, dir, corpus, maint)
      .isDefined)
    assert(CorpusLake.refreshIndexFromLake(spark, dir, corpus, maint, embed)
      .isDefined)

    def lexServes(): Boolean = TextAnalysis.bm25TopKFromSaved(spark, lex,
        Seq((0L, docText)).toDF("query_id", "text")
          .select($"query_id",
            explode(array_distinct(tokens($"text"))).as("tok")),
        Some(s"$maint/seg"))
      .filter($"doc_id" === docId).count() > 0
    def denseServes(): Boolean = {
      val c = graft.operators.Similarity.corpus(spark, dir)
      val probes = c.filter($"vec_id" === 0L)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
      graft.operators.Similarity.topkIvfPqFromSavedWithDelta(spark, dir,
          probes, dIdx, s"$maint/lists",
          Seq((docId, emb)).toDF("vec_id", "embedding"))
        .filter($"neighbor_id" === docId).count() > 0
    }
    assert(lexServes(), "pre-delete: lexical leg must serve the doc")
    assert(denseServes(), "pre-delete: dense leg must serve the doc")

    // the takedown: one committed delete, consumed by both refreshers
    CorpusLake.deleteDocs(spark, corpus, Seq(docId).toDF("doc_id"))
    assert(CorpusLake.refreshPostingsFromLake(spark, dir, corpus, maint)
      .isDefined)
    assert(CorpusLake.refreshIndexFromLake(spark, dir, corpus, maint, embed)
      .isDefined)
    assert(!lexServes(),
      "deleted doc still retrievable through the lexical delta leg")
    assert(!denseServes(),
      "deleted doc still retrievable through the dense delta leg")

    // compaction folds the tombstones into the persisted bases — the
    // retraction must survive the fold (serve-before ≡ serve-after)
    TextAnalysis.compactPostings(spark, lex, s"$maint/seg")
    graft.operators.Similarity.compactIndex(spark, dIdx, s"$maint/lists")
    assert(!lexServes(),
      "compaction resurrected the deleted doc on the lexical leg")
    assert(!denseServes(),
      "compaction resurrected the deleted doc on the dense leg")
    // ... and the fold is also the GC: neither base carries ANY rows for
    // the deleted doc (the spent tombstone is dropped with them)
    assert(spark.read.parquet(graft.storage.Artifact
        .resolve(spark, lex, "postings"))
      .filter($"doc_id" === docId).count() == 0,
      "deleted doc's rows (or its tombstone) survived in the postings base")
    assert(spark.read.parquet(graft.storage.Artifact
        .resolve(spark, dIdx, "lists"))
      .filter($"vec_id" === docId).count() == 0,
      "deleted vec's rows (or its tombstone) survived in the lists base")
    Caches.releaseAll()
  }

  test("run delivery: shard export round-trips; the checksum names a corrupted shard") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-run-ship").toString
    val (corpus, out) = (s"$tmp/corpus", s"$tmp/ship")
    // a two-doc lake over the base corpus, committed and pinned
    Seq((9000001L, docAText, 0L), (9000002L, docBText, 0L))
      .toDF("doc_id", "text", "epoch")
      .write.mode("append").parquet(s"$corpus/docs")
    Seq((0L, 2L, 2L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")
    CorpusLake.pinRun(spark, dir, corpus, "ship_1")

    val manifest = CorpusLake.exportRunShards(spark, dir, corpus, "ship_1",
      4, out)
    val totals = manifest.agg(
        org.apache.spark.sql.functions.sum($"n_docs")).as[Long].head()
    assert(totals == Tables.nDocs(spark, dir) + 2,
      s"shard totals do not cover the pinned run: $totals")
    assert(CorpusLake.verifyRunShards(spark, out).isEmpty,
      "fresh export failed its own integrity check")
    // re-export refuses: a shipped run is immutable
    intercept[Exception] {
      CorpusLake.exportRunShards(spark, dir, corpus, "ship_1", 4, out)
    }

    // corruption: silently rewrite ONE doc inside one shard file — counts
    // unchanged, so only the XOR content checksum can catch it
    val victim = manifest.orderBy($"n_docs".desc).select($"shard")
      .as[Int].head()
    val part = s"$out/data/shard=$victim"
    val rows = spark.read.parquet(part).collect()
    val schema = spark.read.parquet(part).schema
    val tampered = rows.zipWithIndex.map { case (r, i) =>
      if (i == 0) org.apache.spark.sql.Row(r.getLong(0),
        r.getString(1) + " TAMPERED")
      else r
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(tampered.toIndexedSeq), schema)
      .write.mode("overwrite").parquet(part)
    val bad = CorpusLake.verifyRunShards(spark, out)
      .select($"shard").as[Int].collect().toSeq
    assert(bad == Seq(victim),
      s"tampered shard not (exactly) named: $bad vs $victim")
    Caches.releaseAll()
  }

  test("replay copies serve identically through the collapse-free resolve paths") {
    // the serve paths skip the (doc_id, epoch) replay dedup (one fewer
    // full-row shuffle per leg) on the argument that the latest-row
    // window collapses byte-identical copies itself — pin it: a store
    // holding every row TWICE (a replayed batch) must serve the exact
    // same snapshot, change feed, and tombstone set as a clean twin
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-replay-serve").toString
    def commit(corpus: String, rows: Seq[(Long, String)], v: Long,
        copies: Int): Unit = {
      (1 to copies).foreach { _ =>
        rows.toDF("doc_id", "text").withColumn("epoch", lit(v))
          .write.mode("append").parquet(s"$corpus/docs")
      }
      Seq((v, rows.size.toLong, rows.size.toLong, 0L, 0L, 0L))
        .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
          "n_contaminated", "n_low_quality")
        .write.mode("append").parquet(s"$corpus/manifest")
    }
    val clean = s"$tmp/clean"; val replayed = s"$tmp/replayed"
    for ((c, copies) <- Seq(clean -> 1, replayed -> 2)) {
      commit(c, Seq((9200001L, docAText), (9200002L, docBText)), 0L, copies)
      commit(c, Seq((9200002L, docBText + " v2")), 1L, copies)
      CorpusLake.deleteDocs(spark, c, Seq(9200001L).toDF("doc_id"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(CorpusLake.readCorpusAt(spark, dir, replayed)) ==
      rows(CorpusLake.readCorpusAt(spark, dir, clean)),
      "replayed snapshot serve diverged from the clean twin")
    assert(rows(CorpusLake.readCorpusChanges(spark, dir, replayed, 0L)) ==
      rows(CorpusLake.readCorpusChanges(spark, dir, clean, 0L)),
      "replayed change feed diverged from the clean twin")
    assert(rows(CorpusLake.readCorpusAtRange(spark, dir, replayed,
        9200001L, 9200002L)) ==
      rows(CorpusLake.readCorpusAtRange(spark, dir, clean,
        9200001L, 9200002L)),
      "replayed range read diverged from the clean twin")
    Caches.releaseAll()
  }

  test("incremental run delivery: delta export + apply reconstructs the run; corruption named") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-run-delta").toString
    val corpus = s"$tmp/corpus"
    def commit(rows: Seq[(Long, String)], v: Long): Unit = {
      rows.toDF("doc_id", "text").withColumn("epoch", lit(v))
        .write.mode("append").parquet(s"$corpus/docs")
      Seq((v, rows.size.toLong, rows.size.toLong, 0L, 0L, 0L))
        .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
          "n_contaminated", "n_low_quality")
        .write.mode("append").parquet(s"$corpus/manifest")
    }
    // ship_a: docs A and B on top of the base corpus
    commit(Seq((9100001L, docAText), (9100002L, docBText)), 0L)
    CorpusLake.pinRun(spark, dir, corpus, "ship_a")
    CorpusLake.exportRunShards(spark, dir, corpus, "ship_a", 4, s"$tmp/full")
    assert(CorpusLake.verifyRunShards(spark, s"$tmp/full").isEmpty)
    // between the runs: LWW-update B, take down A, insert C
    commit(Seq((9100002L, docBText + " v2")), 1L)
    CorpusLake.deleteDocs(spark, corpus, Seq(9100001L).toDF("doc_id"))
    commit(Seq((9100003L, shadeText)), 3L)
    CorpusLake.pinRun(spark, dir, corpus, "ship_b")

    // the delta ships exactly the three changed docs (tombstone included),
    // never the corpus
    CorpusLake.exportRunDelta(spark, dir, corpus, "ship_a", "ship_b",
      4, s"$tmp/delta")
    assert(spark.read.parquet(s"$tmp/delta/data").count() == 3L,
      "delta data is not changed-doc sized")
    // applying it onto the full export reconstructs ship_b bit-intact
    assert(CorpusLake.applyRunDelta(spark, s"$tmp/full", s"$tmp/delta",
      s"$tmp/applied").isEmpty, "applied delta failed shard verification")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text").as[(Long, String)].collect().toSet
    assert(snap(spark.read.parquet(s"$tmp/applied/data")) ==
      snap(CorpusLake.readRunCorpus(spark, dir, corpus, "ship_b")),
      "applied export does not match the pinned run")
    // a tampered delta UPSERT is caught at apply time by exactly its
    // shard (a tombstone's text never reaches the applied data, so the
    // victim must be a non-deleted row)
    val dFiles = new java.io.File(s"$tmp/delta/data").listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    val (victimDir, victimIdx) = dFiles.iterator.flatMap { f =>
      spark.read.parquet(f.toString).collect().zipWithIndex
        .collectFirst { case (r, i) if !r.getBoolean(2) => (f, i) }
    }.next()
    val victim = victimDir.getName.drop("shard=".length).toInt
    val vRows = spark.read.parquet(victimDir.toString).collect()
    val vSchema = spark.read.parquet(victimDir.toString).schema
    val tampered = vRows.zipWithIndex.map { case (r, i) =>
      if (i == victimIdx) org.apache.spark.sql.Row(r.getLong(0),
        r.getString(1) + " TAMPERED", r.getBoolean(2))
      else r
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(tampered.toIndexedSeq), vSchema)
      .write.mode("overwrite").parquet(victimDir.toString)
    val bad = CorpusLake.applyRunDelta(spark, s"$tmp/full", s"$tmp/delta",
      s"$tmp/applied2").select($"shard").as[Int].collect().toSeq
    assert(bad == Seq(victim),
      s"tampered delta shard not (exactly) named: $bad vs $victim")
    Caches.releaseAll()
  }

  test("shard delta: advanced manifest equals a rebuild; an emptied shard leaves it") {
    import spark.implicits._
    // inserts, LWW updates, and deletes in one diff — the advanced
    // manifest must be value-identical to a from-scratch rebuild of the
    // new snapshot (the oracle re-pins this at fixture scale; here the
    // hand-sized case plus the empty-out edge the twin can't reach)
    val v1 = Seq((1L, "a a"), (2L, "b b b"), (3L, "c")).toDF("doc_id", "text")
    val v2 = Seq((1L, "a a a a"), (3L, "c"), (4L, "d d")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"shard").collect().map(_.toSeq).toSeq
    val advanced = CorpusLake.shardManifestDelta(
      CorpusLake.shardManifest(v1, 4), v1, v2, 4)
    assert(rows(advanced) == rows(CorpusLake.shardManifest(v2, 4)),
      "advanced manifest diverged from the from-scratch rebuild")
    // deleting every doc empties every shard: the n_docs>0 filter must
    // drop them exactly as a rebuild of the empty snapshot would
    val v3 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(CorpusLake.shardManifestDelta(
      CorpusLake.shardManifest(v1, 4), v1, v3, 4).count() == 0,
      "emptied shards survived in the advanced manifest")
  }

  test("maintained profile view: exact recompute parity across inserts, LWW updates, base shadows, replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lake-profile").toString
    val (idx, corpus, maint, prof) =
      (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint", s"$tmp/prof")
    CorpusLake.initCorpus(spark, dir, idx)
    CorpusLake.initProfile(spark, dir, prof)

    def recompute() = CorpusLake.profileOf(
        CorpusLake.readCorpusAt(spark, dir, corpus, None))
      .orderBy($"band").collect().map(_.toSeq).toSeq
    def served() = CorpusLake.profile(spark, prof)
      .orderBy($"band").collect().map(_.toSeq).toSeq
    // before any commit the view is the base profile
    assert(served() == recompute(), "initial profile differs from recompute")

    val pool = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("tok")).distinct()
      .orderBy($"tok").as[String].collect()
    def cycled(stride: Int): String =
      (0 until 40).map(i => pool((i * stride) % pool.length)).mkString(" ")

    val in = MemoryStream[(Long, String)]
    // profDir wired into the loop: the view is maintained LIVE per commit
    // (the cursor-protected refresh runs after each manifest write)
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint,
        profDir = Some(prof))
      .start()
    // epoch 0: insert; epoch 1: insert + base-doc shadow (update);
    // epoch 2: LWW re-upload of epoch 0's doc (update)
    in.addData((3000001L, cycled(1))); q.processAllAvailable()
    in.addData((3000002L, cycled(5)), (0L, cycled(11)))
    q.processAllAvailable()
    assert(served() == recompute(),
      "live-maintained profile lagged the committed lake mid-stream")
    in.addData((3000001L, cycled(7))); q.processAllAvailable()
    q.stop()

    val Seq(v0, _, v2) = CorpusLake.manifest(spark, corpus)
      .orderBy($"version").select($"version").as[Long].collect().toSeq
    assert(CorpusLake.refreshProfileFromLake(spark, dir, corpus, prof)
      .isEmpty, "loop-maintained view should leave nothing to refresh")
    assert(served() == recompute(),
      "maintained profile diverged from full recompute")

    // crash replay: lose the cursor mid-way (reset to v0), re-run — the
    // overlapping window recomputes byte-identical (band, version) rows
    // that collapse on read
    graft.storage.Artifact.publish(Seq(v0).toDF("last_version"), prof,
      "cursor")
    assert(CorpusLake.refreshProfileFromLake(spark, dir, corpus, prof)
      .contains((v0, v2)))
    assert(served() == recompute(),
      "replayed maintenance window double-counted a delta")

    // compaction: fold the deltas into the base off the serving path —
    // serving before ≡ after, the store truncates, and a crash-replayed
    // pre-compaction delta is excluded by the folded-through watermark
    // (an additive store has no keyed idempotency to hide behind)
    val before = served()
    val savedDelta = spark.read.parquet(s"$prof/delta").collect()
    val deltaSchema = spark.read.parquet(s"$prof/delta").schema
    CorpusLake.compactProfile(spark, prof)
    assert(served() == before, "compaction changed the served profile")
    assert(spark.read.parquet(s"$prof/delta").count() == 0,
      "compaction did not truncate the delta store")
    spark.createDataFrame(
        spark.sparkContext.parallelize(savedDelta.toIndexedSeq), deltaSchema)
      .write.mode("append").parquet(s"$prof/delta")
    assert(served() == before,
      "replayed pre-compaction delta double-counted past the watermark")

    // commits after compaction serve from fresh deltas above the watermark
    val v3 = v2 + 1
    Seq((9000001L, cycled(13)))
      .toDF("doc_id", "text").withColumn("epoch", lit(v3))
      .write.mode("append").parquet(s"$corpus/docs")
    Seq((v3, 1L, 1L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")
    assert(CorpusLake.refreshProfileFromLake(spark, dir, corpus, prof)
      .contains((v2, v3)))
    assert(served() == recompute(),
      "post-compaction commit not served from the fresh delta")

    // retraction: a committed deleteDocs epoch (one lake doc + the
    // shadowed base doc 0) must retract exactly the previously-visible
    // text from the view — parity against a recompute over the
    // tombstone-aware read is the whole signed algebra under deletes
    CorpusLake.deleteDocs(spark, corpus, Seq(3000001L, 0L).toDF("doc_id"))
    assert(CorpusLake.refreshProfileFromLake(spark, dir, corpus, prof)
      .isDefined)
    assert(served() == recompute(),
      "profile view did not retract deleted docs")

    // floor guard: a vacuum past the cursor would make the next window's
    // retractions wrong (collapsed history) — the refresh must refuse a
    // stale cursor instead of silently corrupting the view
    CorpusLake.vacuumCorpus(spark, corpus, v3)
    graft.storage.Artifact.publish(Seq(v2).toDF("last_version"), prof,
      "cursor")
    intercept[IllegalArgumentException] {
      CorpusLake.refreshProfileFromLake(spark, dir, corpus, prof)
    }
    Caches.releaseAll()
  }

  test("vacuum: orphan cleanup, history collapse, retention-floor refusals") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lake-vacuum").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)

    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint)
      .start()
    in.addData((2000001L, docAText)); q.processAllAvailable()
    in.addData((2000001L, docBText)); q.processAllAvailable() // LWW re-upload
    q.stop()
    val Seq(v0, v1) = CorpusLake.manifest(spark, corpus)
      .orderBy($"version").select($"version").as[Long].collect().toSeq
    // a crash-before-manifest orphan: data rows, no manifest row
    Seq((2000099L, "phantom uncommitted row"))
      .toDF("doc_id", "text").withColumn("epoch", lit(99L))
      .write.mode("append").parquet(s"$corpus/docs")

    def snapshot(v: Option[Long]) = CorpusLake.readCorpusAt(spark, dir,
        corpus, v)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (atV0, atV1, latest) =
      (snapshot(Some(v0)), snapshot(Some(v1)), snapshot(None))
    assert(atV0(2000001L) == docAText && atV1(2000001L) == docBText)

    // vacuum at v0: the above-head orphan is KEPT (it may be a live
    // stream's in-flight epoch whose manifest row is about to land);
    // every pinnable read is bit-equal
    val (before0, after0) = CorpusLake.vacuumCorpus(spark, corpus, v0)
    assert(before0 == 3 && after0 == 3,
      s"in-flight-window rows must survive vacuum, got $before0 -> $after0")
    assert(snapshot(Some(v0)) == atV0 && snapshot(Some(v1)) == atV1 &&
      snapshot(None) == latest, "vacuum at v0 changed a pinnable read")

    // a pinned training run is a reproducibility contract: its snapshot
    // serves exactly, and vacuum refuses to collapse past it
    assert(CorpusLake.pinRun(spark, dir, corpus, "run_a") == v1)
    intercept[IllegalArgumentException] {
      CorpusLake.pinRun(spark, dir, corpus, "run_a") // immutable
    }
    val runDocs = CorpusLake.readRunCorpus(spark, dir, corpus, "run_a")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(runDocs == atV1, "pinned run does not serve its snapshot")
    // pin an earlier state too (simulate a run trained at v0): write the
    // same shape vacuum checks
    Seq(("run_old", v0, 0L)).toDF("tag", "version", "n_docs")
      .write.parquet(s"$corpus/runs/run_old")
    intercept[IllegalArgumentException] {
      CorpusLake.vacuumCorpus(spark, corpus, v1) // would invalidate run_old
    }
    CorpusLake.unpinRun(spark, corpus, "run_old")

    // once later commits push the head past the orphan's epoch it is
    // provably dead (the stream's epoch counter is monotone past it) —
    // simulate with a committed empty epoch beyond it
    Seq((100L, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")

    // vacuum at v1: docA's superseded v0 row collapses AND the now-dead
    // orphan goes; v1/latest intact; a pre-floor pin and a pre-floor
    // change feed are REFUSED
    val (_, after1) = CorpusLake.vacuumCorpus(spark, corpus, v1)
    assert(CorpusLake.readRunCorpus(spark, dir, corpus, "run_a")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == atV1,
      "pinned run broke across vacuum at its own version")
    assert(after1 == 1,
      s"superseded row or dead orphan survived: $after1 rows")
    assert(snapshot(Some(v1)) == atV1 && snapshot(None) == latest,
      "vacuum at v1 changed a retained read")
    intercept[IllegalArgumentException] { snapshot(Some(v0)) }
    intercept[IllegalArgumentException] {
      CorpusLake.readCorpusChanges(spark, dir, corpus, v0, None).collect()
    }
    assert(CorpusLake.readCorpusChanges(spark, dir, corpus, v1, None)
      .isEmpty, "change feed from the floor must be empty at head")
    // floors only rise
    intercept[IllegalArgumentException] {
      CorpusLake.vacuumCorpus(spark, corpus, v0)
    }
    // ...and an OVERSHOT floor (past the committed head) is refused
    // BEFORE the irreversible marker lands — a typo'd retainFrom must not
    // permanently brick every pin and change feed on an intact lake
    intercept[IllegalArgumentException] {
      CorpusLake.vacuumCorpus(spark, corpus, 1000L)
    }
    assert(CorpusLake.retentionFloor(spark, corpus) == v1,
      "refused overshoot vacuum still moved the retention floor")
    // the committed audit trail survives vacuum in full (incl. the
    // simulated empty epoch)
    assert(CorpusLake.manifest(spark, corpus).count() == 3)
    assert(CorpusLake.admissionLog(spark, corpus).count() == 2)
    Caches.releaseAll()
  }

  test("replication: a follower converges per window, retracts deletes, replays safely") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat}
    val root = java.nio.file.Files
      .createTempDirectory("graft-replica-spec").toString
    val (src, dst) = (s"$root/primary", s"$root/replica")
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    def commit(v: Long): Unit =
      Seq((v, 0L, 0L, 0L, 0L, 0L))
        .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
          "n_contaminated", "n_low_quality")
        .write.mode("append").parquet(s"$src/manifest")
    def served(corpus: String): Seq[(Long, String)] =
      CorpusLake.readCorpusAt(spark, dir, corpus)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq.sorted

    // window 1: an LWW update epoch
    docs.filter($"doc_id" % 10 === 1)
      .select($"doc_id", concat($"text", lit(" u1")).as("text"),
        lit(0L).as("epoch"))
      .write.mode("append").parquet(s"$src/docs")
    commit(0L)
    assert(CorpusLake.replicateLake(spark, dir, src, dst)
      .contains((Long.MinValue, 0L)))
    assert(served(dst) == served(src), "follower diverged after window 1")
    // caught up: no-op
    assert(CorpusLake.replicateLake(spark, dir, src, dst).isEmpty)

    // window 2: a takedown epoch retracts on the follower
    CorpusLake.deleteDocs(spark, src,
      docs.filter($"doc_id" % 9 === 2).select($"doc_id"))
    assert(CorpusLake.replicateLake(spark, dir, src, dst)
      .contains((0L, 1L)))
    assert(served(dst) == served(src), "follower diverged after the delete")
    assert(!served(dst).exists(_._1 % 9 == 2), "delete not retracted")

    // crash replay: lose the follower cursor, re-apply the full history —
    // the content-identical epochs collapse in the LWW serve
    val fs = new org.apache.hadoop.fs.Path(s"$dst/replica_cursor")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dst/replica_cursor"), true)
    assert(CorpusLake.replicateLake(spark, dir, src, dst)
      .contains((Long.MinValue, 1L)))
    assert(served(dst) == served(src), "cursor-loss replay diverged")
  }

  test("follower refusal: local writers into a replica fail loudly; " +
      "replication and promotion still work") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat}
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-replica-refusal").toString
    val (src, dst) = (s"$root/primary", s"$root/replica")
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    def commit(v: Long): Unit =
      Seq((v, 0L, 0L, 0L, 0L, 0L))
        .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
          "n_contaminated", "n_low_quality")
        .write.mode("append").parquet(s"$src/manifest")
    docs.filter($"doc_id" % 10 === 1)
      .select($"doc_id", $"text", lit(0L).as("epoch"))
      .write.mode("append").parquet(s"$src/docs")
    commit(0L)
    assert(CorpusLake.replicateLake(spark, dir, src, dst).nonEmpty)

    // a lake holding a replica_cursor refuses every LOCAL write path —
    // the next replication window would silently LWW-stomp such an epoch
    val e1 = intercept[IllegalArgumentException] {
      CorpusLake.deleteDocs(spark, dst, Seq(1L).toDF("doc_id"))
    }
    assert(e1.getMessage.contains("FOLLOWER"), s"deleteDocs: ${e1.getMessage}")
    val in = MemoryStream[(Long, String)]
    val e2 = intercept[IllegalArgumentException] {
      CorpusLake.maintainCorpusStream(in.toDF().toDF("doc_id", "text"),
        spark, dir, s"$root/idx", dst, s"$root/maint")
    }
    assert(e2.getMessage.contains("FOLLOWER"), s"stream wiring: ${e2.getMessage}")
    CorpusLake.createBranch(spark, dir, dst, s"$root/branch", "b")
    val e3 = intercept[IllegalArgumentException] {
      CorpusLake.mergeBranch(spark, s"$root/branch")
    }
    assert(e3.getMessage.contains("FOLLOWER"), s"mergeBranch: ${e3.getMessage}")

    // the ONE sanctioned follower writer — replication itself — still runs
    docs.filter($"doc_id" % 10 === 3)
      .select($"doc_id", concat($"text", lit(" u")).as("text"),
        lit(1L).as("epoch"))
      .write.mode("append").parquet(s"$src/docs")
    commit(1L)
    assert(CorpusLake.replicateLake(spark, dir, src, dst).nonEmpty,
      "refusal guard must not block replicateLake itself")

    // promotion: stop replication, drop the cursor → local writes resume
    val fs = new org.apache.hadoop.fs.Path(s"$dst/replica_cursor")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dst/replica_cursor"), true)
    CorpusLake.deleteDocs(spark, dst, Seq(1L).toDF("doc_id"))
    assert(CorpusLake.readCorpusAt(spark, dir, dst)
      .filter(col("doc_id") === 1L).isEmpty,
      "promoted follower must accept and serve the delete")
  }

  test("writer lease: a held lease refuses deleteDocs, merge commits, and " +
      "stream batches; release (or TTL takeover) resumes writes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-lease-refusal").toString
    val lake = s"$root/lake"
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    // seed at version 5, NOT 0: this pre-split manifest has no batch_id
    // column, so the replay guard keys on version — a version-0 seed
    // would phantom-skip the stream's batch 0 below instead of letting
    // it reach the lease refusal
    docs.filter($"doc_id" % 10 === 1)
      .select($"doc_id", $"text", lit(5L).as("epoch"))
      .write.mode("append").parquet(s"$lake/docs")
    Seq((5L, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$lake/manifest")
    // a branch with a real committed net effect, prepared BEFORE the
    // lease is held (the branch dir has its own lease namespace)
    CorpusLake.createBranch(spark, dir, lake, s"$root/branch", "b")
    CorpusLake.deleteDocs(spark, s"$root/branch", Seq(21L).toDF("doc_id"))

    // another operator (a long OPTIMIZE, say) holds the lake's lease
    assert(CorpusLake.acquireWriterLease(spark, lake, "operator-a"))
    val e1 = intercept[IllegalStateException] {
      CorpusLake.deleteDocs(spark, lake, Seq(1L).toDF("doc_id"))
    }
    assert(e1.getMessage.contains("HELD"), s"deleteDocs: ${e1.getMessage}")
    val e2 = intercept[IllegalStateException] {
      CorpusLake.mergeBranch(spark, s"$root/branch")
    }
    assert(e2.getMessage.contains("HELD"), s"mergeBranch: ${e2.getMessage}")
    // an ingest stream's micro-batch refuses INSIDE foreachBatch — the
    // wiring-time follower check cannot see a lease that appears later
    val in = MemoryStream[(Long, String)]
    CorpusLake.initCorpus(spark, dir, s"$root/idx")
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, s"$root/idx", lake,
        s"$root/maint", leaseWaitMs = 0L)
      .option("checkpointLocation", s"$root/ck").start()
    in.addData((1000001L, (1 to 40).map(i => s"lease$i").mkString(" ")))
    val r3 = scala.util.Try(q.processAllAvailable())
    val qEx = q.exception
    q.stop()
    val e3 = r3.failed.getOrElse(qEx.getOrElse(
      fail(s"stream batch committed under a held lease")))
    val chain = Iterator.iterate(e3: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain.exists(_.contains("HELD")), s"stream batch: $chain")
    // nothing committed while the lease was held
    assert(CorpusLake.manifest(spark, lake).count() == 1,
      "a refused writer still committed an epoch")

    // release → the delete commits; the merge commits after it
    CorpusLake.releaseWriterLease(spark, lake, "operator-a")
    val vDel = CorpusLake.deleteDocs(spark, lake, Seq(1L).toDF("doc_id"))
    assert(vDel == 6L, s"post-release delete committed at $vDel")
    assert(CorpusLake.mergeBranch(spark, s"$root/branch") == 7L,
      "post-release merge must commit the next epoch")
    // a crashed holder's stale lease is taken over by TTL: hold with a
    // zero TTL, and the next writer steals it instead of refusing
    assert(CorpusLake.acquireWriterLease(spark, lake, "crashed-writer"))
    CorpusLake.backdateWriterLease(spark, lake, ageMs = 10L)
    val vDel2 = CorpusLake.withWriterLease(spark, lake, "operator-b",
      ttlMs = 1L) { 42 }
    assert(vDel2 == 42, "TTL takeover must run the blocked writer")

    // awaitWriterLease: two cooperating jobs SERIALIZE instead of one
    // refusing — a live holder that finishes within the wait budget
    // hands over; one that doesn't times out to false (never a steal:
    // its lease is fresh)
    assert(CorpusLake.acquireWriterLease(spark, lake, "slow-optimize"))
    val releaser = new Thread(() => {
      Thread.sleep(400)
      CorpusLake.releaseWriterLease(spark, lake, "slow-optimize")
    })
    releaser.start()
    assert(CorpusLake.awaitWriterLease(spark, lake, "waiting-job",
        timeoutMs = 10000L),
      "the waiting writer must acquire once the live holder releases")
    releaser.join()
    CorpusLake.releaseWriterLease(spark, lake, "waiting-job")
    assert(CorpusLake.acquireWriterLease(spark, lake, "long-holder"))
    assert(!CorpusLake.awaitWriterLease(spark, lake, "impatient-job",
        timeoutMs = 300L),
      "a fresh live lease must time the waiter out, not be stolen")
    assert(CorpusLake.heldWriterLease(spark, lake, "long-holder"),
      "the timed-out wait must leave the holder's lease intact")
    CorpusLake.releaseWriterLease(spark, lake, "long-holder")

    // same-owner re-entry: a crashed incarnation's fresh lease does not
    // strand ITS OWN restart for the TTL — re-acquiring under the same
    // tag reclaims immediately (the stable-owner ingest-batch case)
    assert(CorpusLake.acquireWriterLease(spark, lake, "stable-writer"))
    assert(CorpusLake.acquireWriterLease(spark, lake, "stable-writer"),
      "same-owner re-acquire must reclaim, not refuse")
    assert(!CorpusLake.acquireWriterLease(spark, lake, "someone-else"),
      "re-entry must not weaken exclusion against other owners")
    CorpusLake.releaseWriterLease(spark, lake, "stable-writer")

    // pre-commit recheck: a writer whose lease was taken over mid-body
    // (TTL overrun) must ABORT at the recheck instead of committing
    val reentered = CorpusLake.withOpLease(spark, lake, "optest",
        stableOwner = Some("op-A")) { (recheck, _) =>
      recheck() // held: a no-op
      // simulate the takeover a TTL overrun permits
      CorpusLake.releaseWriterLease(spark, lake, "op-A")
      assert(CorpusLake.acquireWriterLease(spark, lake, "op-B"))
      val e = intercept[IllegalStateException] { recheck() }
      assert(e.getMessage.contains("taken over"), e.getMessage)
      "aborted-before-manifest"
    }
    assert(reentered == "aborted-before-manifest")
    assert(CorpusLake.heldWriterLease(spark, lake, "op-B"),
      "the zombie's exit must not unseat the new holder")
    CorpusLake.releaseWriterLease(spark, lake, "op-B")

    // the default stream posture QUEUES behind a briefly-held foreign
    // lease (a passing OPTIMIZE) instead of killing the query
    val manifestBefore = CorpusLake.manifest(spark, lake).count()
    assert(CorpusLake.acquireWriterLease(spark, lake, "passing-optimize"))
    val in2 = MemoryStream[(Long, String)]
    val q2 = CorpusLake.maintainCorpusStream(
        in2.toDF().toDF("doc_id", "text"), spark, dir, s"$root/idx", lake,
        s"$root/maint", leaseWaitMs = 30000L)
      .option("checkpointLocation", s"$root/ck2").start()
    in2.addData((1000002L, (1 to 40).map(i => s"queue$i").mkString(" ")))
    val passer = new Thread(() => {
      Thread.sleep(1500)
      CorpusLake.releaseWriterLease(spark, lake, "passing-optimize")
    })
    passer.start()
    q2.processAllAvailable()
    val q2Ex = q2.exception
    q2.stop(); passer.join()
    assert(q2Ex.isEmpty,
      s"a waiting batch must commit once the holder passes: $q2Ex")
    assert(CorpusLake.manifest(spark, lake).count() == manifestBefore + 1,
      "the queued batch must have committed exactly one epoch")
  }

  test("lease re-entry on a no-op-setTimes filesystem: the restamp is " +
      "detected as ineffective and the fallback still restarts the TTL") {
    // the connector shape the r17 advice named: Hadoop's BASE setTimes is
    // a silent no-op, so a re-entry that trusted it would return true
    // with the crashed incarnation's SPENT mtime — re-opening the
    // mid-batch TTL-takeover window. The fallback (delete + atomic
    // create) must engage and observably restart the clock.
    val localRoot = java.nio.file.Files
      .createTempDirectory("graft-nostamp").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.nostamp.impl", classOf[NoSetTimesFileSystem].getName)
    val lake = s"nostamp:$localRoot/lake"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$localRoot/lake"))
    assert(CorpusLake.acquireWriterLease(spark, lake, "stable-writer"),
      "fresh acquire through the no-op-setTimes filesystem")
    // age the lease the way a crashed incarnation's would be: directly on
    // the local file (backdateWriterLease rides setTimes, a no-op here)
    val leasePath = java.nio.file.Paths.get(s"$localRoot/lake/_writer_lease")
    val aged = System.currentTimeMillis() - 10L * 60 * 1000
    java.nio.file.Files.setLastModifiedTime(leasePath,
      java.nio.file.attribute.FileTime.fromMillis(aged))
    val before = java.nio.file.Files.getLastModifiedTime(leasePath).toMillis
    assert(before <= aged, "test setup: the lease must read as aged")
    assert(CorpusLake.acquireWriterLease(spark, lake, "stable-writer"),
      "same-owner re-entry must still reclaim on a no-op-setTimes FS")
    val after = java.nio.file.Files.getLastModifiedTime(leasePath).toMillis
    assert(after > before,
      "re-entry must RESTART the TTL clock via the fallback path — a " +
        "trusted no-op restamp would have left the spent mtime in place")
    assert(CorpusLake.heldWriterLease(spark, lake, "stable-writer"),
      "the fallback re-create must preserve the owner tag")
    assert(!CorpusLake.acquireWriterLease(spark, lake, "someone-else"),
      "the fallback must not weaken exclusion against other owners")
    CorpusLake.releaseWriterLease(spark, lake, "stable-writer")
  }

  test("orphan adoption: a taken-over writer's same-version data is never " +
      "admitted by the new holder's commit; vacuum reclaims it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, max}
    val root = java.nio.file.Files
      .createTempDirectory("graft-adoption").toString
    val lake = s"$root/lake"
    val docs = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    // seed one committed epoch from a LEGACY (pre-tag) writer — pins that
    // untagged history keeps serving through the pair-aware filter
    docs.filter($"doc_id" % 10 === 1)
      .select($"doc_id", $"text", lit(5L).as("epoch"))
      .write.mode("append").parquet(s"$lake/docs")
    Seq((5L, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$lake/manifest")
    val victimA = 11L // the zombie's takedown target — must stay VISIBLE
    val victimB = 31L // the new holder's target — must be hidden
    // the EXACT interleaving the lease scaladoc documents: writer A
    // acquires, allocates v, stalls before its first write; its TTL is
    // overrun and the lease taken over; writer B runs a full commit that
    // allocates the SAME v (A has written nothing, so the version is not
    // burned); the zombie A then lands its data-first append AT v and
    // aborts at the recheck. Epoch-only committed reads would ADOPT A's
    // rows into B's commit — the pair-aware filter must not.
    var vA = -1L
    var vB = -1L
    intercept[IllegalStateException] {
      CorpusLake.withOpLease(spark, lake, "deleteDocs",
          stableOwner = Some("zombie-A")) { (recheck, tagA) =>
        vA = CorpusLake.nextLakeVersion(spark, lake)
        // the TTL takeover, as its post-state: A no longer holds (the
        // explicit release stands in for the zero-TTL steal, which the
        // lease test above exercises); B's REAL deleteDocs then acquires
        // its own lease and commits
        CorpusLake.releaseWriterLease(spark, lake, "zombie-A")
        vB = CorpusLake.deleteDocs(spark, lake, Seq(victimB).toDF("doc_id"))
        assert(vB == vA,
          s"the race needs a version collision (A allocated $vA, B committed $vB)")
        // the zombie's data-first append at ITS allocated version — the
        // same rows the real deleteDocs body writes, tagged with the
        // lease owner the real body was handed
        Seq(victimA).toDF("doc_id")
          .select($"doc_id", lit(null).cast("string").as("text"),
            lit(vA).as("epoch"), lit(true).as("_deleted"),
            lit(tagA).as("_commit"))
          .write.mode("append").parquet(s"$lake/docs")
        recheck() // must throw: the lease is gone — abort pre-manifest
        fail("the zombie's recheck must abort after a takeover")
      }
    }
    // the zombie's rows ARE on disk at B's committed version…
    val rawDocs = spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(s"$lake/docs")
    assert(rawDocs.filter($"_commit" === "zombie-A").count() == 1,
      "fixture: the zombie's orphan row must exist raw")
    // …but NO read adopts them: victimA stays visible at head and at the
    // pinned version; victimB (B's real commit) is hidden
    for (v <- Seq(None, Some(vB))) {
      val snap = CorpusLake.readCorpusAt(spark, dir, lake, v)
      assert(snap.filter($"doc_id" === victimA).count() == 1,
        s"victimA vanished at $v: the zombie's tombstone was ADOPTED")
      assert(snap.filter($"doc_id" === victimB).count() == 0,
        s"victimB still visible at $v: B's commit was lost")
    }
    // the change feed reports exactly B's delete, not the zombie's
    val changes = CorpusLake.readCorpusChanges(spark, dir, lake, 5L)
    assert(changes.filter($"change_type" === "delete")
        .select($"doc_id").as[Long].collect().toSet == Set(victimB),
      "the change feed must carry B's delete only")
    // DESCRIBE agrees something uncommitted exists at the shared version
    val unc = CorpusLake.lakeStats(spark, lake)
      .filter($"stat" === "uncommitted_epochs")
      .select($"value").as[Long].head()
    assert(unc >= 1L, s"lakeStats must surface the orphan (got $unc)")
    // vacuum reclaims the zombie's rows and keeps B's commit whole
    CorpusLake.vacuumCorpus(spark, lake, 5L)
    val after = spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(s"$lake/docs")
    assert(after.filter(coalesce($"_commit", lit("")) === "zombie-A")
        .count() == 0, "vacuum must reclaim the taken-over writer's rows")
    val headSnap = CorpusLake.readCorpusAt(spark, dir, lake)
    assert(headSnap.filter($"doc_id" === victimA).count() == 1 &&
      headSnap.filter($"doc_id" === victimB).count() == 0,
      "post-vacuum serving must equal pre-vacuum serving")
    assert(CorpusLake.manifest(spark, lake)
        .agg(max($"version")).as[Long].head() == vB,
      "vacuum must not touch the manifest history")
    Caches.releaseAll()
  }
}
