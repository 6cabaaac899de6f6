package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import graft.operators.{CorpusLake, Curate, Dedup}
import graft.sources.{Caches, Tables}

/** The versioned corpus lake: admission-gated ingest, manifest-last epoch
  * commits, time travel, replay safety, LWW re-uploads, and the dedup-index
  * compaction lifecycle staying consistent with the lake. */
class CorpusLifecycleSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  // crafted arrival texts over a vocabulary disjoint from the fixture corpus
  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")
  private val docAText = words("alpha", 40).mkString(" ")
  // near-dup of docA: last token changed -> 3-gram jaccard 37/39 ≈ 0.95
  private val docADupText = (words("alpha", 39) :+ "changed").mkString(" ")
  private val docBText = words("beta", 40).mkString(" ")
  private val lowQText = Seq.fill(30)("junk").mkString(" ")

  /** A contaminated arrival: one bench doc's first 20 tokens (13 shared
    * 8-grams ≥ the 8 floor) embedded in 60 unique filler tokens, so the
    * 3-gram jaccard vs the bench doc stays far below 0.8. */
  private def contamText(benchText: String): String =
    (benchText.split(" ").take(20) ++ words("filler", 60)).mkString(" ")

  test("corpus lake: admission stream, manifest commits, time travel, replay, LWW") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-lake").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)

    val corpusDoc0 = Tables.documents(spark, dir)
      .filter($"doc_id" === 0L).select($"text").as[String].head()
    val benchText = Tables.documents(spark, dir)
      .filter($"doc_id" === 7L).select($"text").as[String].head()
    assert(benchText.split(" ").length >= 20, "fixture bench doc too short")

    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint)
      .start()
    // batch 1: an admitted doc, a low-quality doc, a copy of corpus doc 0
    in.addData((1000001L, docAText), (1000002L, lowQText),
      (1000003L, corpusDoc0))
    q.processAllAvailable()
    // batch 2: near-dup of batch 1's admitted doc (cross-batch dedup), a
    // fresh admitted doc, and a benchmark-contaminated doc
    in.addData((1000004L, docADupText), (1000005L, docBText),
      (1000006L, contamText(benchText)))
    q.processAllAvailable()

    val log = CorpusLake.admissionLog(spark, corpus)
      .select($"doc_id", $"decision", $"first_dup", $"epoch")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.get(2))).toMap
    assert(log(1000001L)._1 == Curate.Admitted, s"docA: ${log(1000001L)}")
    assert(log(1000002L)._1 == Curate.LowQuality)
    assert(log(1000003L) == (Curate.Duplicate, 0L),
      s"corpus-doc copy: ${log(1000003L)}")
    assert(log(1000004L) == (Curate.Duplicate, 1000001L),
      s"cross-batch near-dup: ${log(1000004L)}")
    assert(log(1000005L)._1 == Curate.Admitted)
    assert(log(1000006L)._1 == Curate.Contaminated,
      s"bench-overlap doc: ${log(1000006L)}")

    // manifest: two committed epochs with per-decision counts (and each
    // row carries the stream batch id the replay guard keys on)
    val man = CorpusLake.manifest(spark, corpus)
      .select($"version", $"n_arrived", $"n_admitted", $"n_duplicate",
        $"n_contaminated", $"n_low_quality", $"batch_id")
      .orderBy($"version").collect().map(_.toSeq).toSeq
    assert(man.size == 2, s"manifest: $man")
    assert(man(0).drop(1) == Seq(3L, 1L, 1L, 0L, 1L, 0L),
      s"epoch-0 manifest row: ${man(0)}")
    assert(man(1).drop(1).dropRight(1) == Seq(3L, 1L, 1L, 1L, 0L),
      s"epoch-1 manifest row: ${man(1)}")
    val Seq(v0, v1) = man.map(_.head.asInstanceOf[Long])

    // time travel: v0 has docA but not docB; latest has both; rejected
    // docs never enter; the base corpus rides along untouched
    val nBase = Tables.nDocs(spark, dir)
    def idsAt(v: Option[Long]) = CorpusLake.readCorpusAt(spark, dir, corpus, v)
      .filter($"doc_id" >= 1000000L).select($"doc_id").as[Long].collect().toSet
    assert(idsAt(Some(v0)) == Set(1000001L))
    assert(idsAt(Some(v1)) == Set(1000001L, 1000005L))
    assert(idsAt(None) == Set(1000001L, 1000005L))
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() == nBase + 2)

    // crash-before-manifest: a partial epoch (data files, no manifest row)
    // is invisible to every read
    Seq((1000099L, "phantom uncommitted row"))
      .toDF("doc_id", "text").withColumn("epoch", lit(99L))
      .write.mode("append").parquet(s"$corpus/docs")
    assert(idsAt(None) == Set(1000001L, 1000005L),
      "uncommitted partial epoch leaked into the corpus read")

    // replay: re-deliver epoch 0's admitted rows byte-identically — the
    // (doc_id, epoch) read dedup collapses them
    Seq((1000001L, docAText))
      .toDF("doc_id", "text").withColumn("epoch", lit(v0))
      .write.mode("append").parquet(s"$corpus/docs")
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() == nBase + 2,
      "replayed epoch duplicated an admitted doc")

    // LWW re-upload on the SAME stream (epochs stay monotonic): docA's id
    // re-arrives with CHANGED (still unique) text in a new epoch — admitted
    // again; latest read serves the new text, a version pinned before the
    // re-upload still serves the old
    in.addData((1000001L, docBText.replace("beta", "gamma")))
    q.processAllAvailable()
    q.stop()
    def textOf(id: Long, v: Option[Long]) =
      CorpusLake.readCorpusAt(spark, dir, corpus, v)
        .filter($"doc_id" === id).select($"text").as[String].head()
    assert(textOf(1000001L, None).startsWith("gamma"),
      "latest read does not serve the re-uploaded text")
    assert(textOf(1000001L, Some(v1)) == docAText,
      "pinned version no longer serves the pre-re-upload text")
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() == nBase + 2,
      "LWW re-upload duplicated the doc instead of replacing it")

    // a FRESH stream against the live lake restarts epochs at 0 — the
    // committed-version guard must refuse the collision (loud skip), not
    // double-write epoch 0
    val in2 = MemoryStream[(Long, String)]
    val q2 = CorpusLake.maintainCorpusStream(
        in2.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint)
      .start()
    in2.addData((1000098L, docBText.replace("beta", "delta")))
    q2.processAllAvailable()
    q2.stop()
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() == nBase + 2,
      "stale-checkpoint epoch collision wrote through the committed-version guard")
    assert(CorpusLake.manifest(spark, corpus).count() == 3)
    Caches.releaseAll()
  }

  test("corpus lake: a near-dup of committed content is rejected even when that content's id is re-sent in the same batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-rescue").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)

    // the fresh-lake audit log must carry the full decisions schema
    assert(CorpusLake.admissionLog(spark, corpus).columns.toSeq ==
      Seq("doc_id", "decision", "n_dup_matches", "first_dup",
        "n_bench_hits", "quality", "epoch"),
      "empty admissionLog schema diverges from the written store")

    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint)
      .start()
    // epoch 0 commits docA
    in.addData((1000001L, docAText)); q.processAllAvailable()
    // epoch 1: docA's id re-sent byte-identically PLUS a near-dup of its
    // content under a SMALLER id — the near-dup must be rejected against
    // the COMMITTED lake copy (the old batch-id exclusion dropped exactly
    // this pair and admitted the near-dup); the re-send loses the
    // intra-batch first-wins leg to the smaller id, and the lake keeps
    // serving the committed content either way
    in.addData((999999L, docADupText), (1000001L, docAText))
    q.processAllAvailable()
    q.stop()
    val log = CorpusLake.admissionLog(spark, corpus)
      .filter($"epoch" === 1L)
      .select($"doc_id", $"decision", $"first_dup")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.get(2))).toMap
    assert(log(999999L) == (Curate.Duplicate, 1000001L),
      s"near-dup of committed content admitted: ${log(999999L)}")
    assert(log(1000001L)._1 == Curate.Duplicate,
      s"re-send unexpectedly kept: ${log(1000001L)}")
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" === 1000001L).select($"text").as[String].head()
      == docAText, "committed content lost across the rescue batch")
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" === 999999L).count() == 0)
    Caches.releaseAll()
  }

  test("corpus lake: inline index compaction keeps cross-batch dedup intact") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-compact").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)
    val nIdx = spark.read.parquet(s"$idx/buckets").count()

    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint,
        compactAt = 0.000001)
      .start()
    in.addData((1000001L, docAText)); q.processAllAvailable()
    // the tiny threshold folded batch 1's admitted buckets into the base
    assert(spark.read.parquet(s"$maint/buckets").count() == 0,
      "lake loop did not compact the admitted buckets")
    assert(spark.read.parquet(s"$idx/buckets").count() > nIdx)
    // batch 2's near-dup must still be rejected — the admitted doc now
    // lives in the BASE index, not the drained store
    in.addData((1000004L, docADupText)); q.processAllAvailable()
    q.stop()
    val log = CorpusLake.admissionLog(spark, corpus)
      .select($"doc_id", $"decision", $"first_dup")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.get(2))).toMap
    assert(log(1000001L)._1 == Curate.Admitted)
    assert(log(1000004L) == (Curate.Duplicate, 1000001L),
      s"cross-batch dedup broke across compaction: ${log(1000004L)}")
    Caches.releaseAll()
  }

  test("corpus lake: inline OPTIMIZE cadence bounds the file count across commits") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-inline-opt").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)
    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint,
        optimizeEvery = 2)
      .start()
    // four single-doc commits; OPTIMIZE fires inside epochs 1 and 3
    val texts = (1 to 4).map(i => words(s"inopt$i", 40).mkString(" "))
    texts.zipWithIndex.foreach { case (t, i) =>
      in.addData((2000000L + i, t)); q.processAllAvailable()
    }
    q.stop()
    // two firings (commits 2 and 4) packed the live windows into sorted
    // segments: file count is O(firings) — 2 segments + at most a
    // truncation marker per store — not O(commits × files-per-append)
    val docFiles = CorpusLake.dataFileCount(spark, s"$corpus/docs")
    assert(docFiles <= 3L,
      s"inline incremental OPTIMIZE did not bound the docs store: $docFiles")
    assert(CorpusLake.dataFileCount(spark, s"$corpus/decisions") <= 3L)
    // the live window drained: every committed row lives in a segment
    assert(spark.read.parquet(s"$corpus/docs/live").count() == 0L,
      "live sub-store not truncated after the pack")
    // a standalone deep pass then merges the segments to one file
    CorpusLake.optimizeCorpus(spark, corpus)
    assert(CorpusLake.dataFileCount(spark, s"$corpus/docs") == 1L,
      "deep-pass OPTIMIZE did not merge the packed segments")
    // and the lake still serves everything, LWW/audit intact
    val head = CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" >= 2000000L).as[(Long, String)].collect().toMap
    assert(head == texts.zipWithIndex
      .map { case (t, i) => (2000000L + i) -> t }.toMap)
    assert(CorpusLake.admissionLog(spark, corpus)
      .filter($"decision" === Curate.Admitted).count() == 4L)
    Caches.releaseAll()
  }

  test("corpus lake: schema evolution — a later epoch's extra column serves with nulls backfilled") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-evolve").toString
    val corpus = s"$tmp/corpus"
    // epoch 0 lands pre-evolution (doc_id, text); epoch 1 carries a lang
    // column — the mixed-schema store every long-lived lake ends up with
    Seq((1000001L, docAText, 0L)).toDF("doc_id", "text", "epoch")
      .write.mode("append").parquet(s"$corpus/docs")
    Seq((1000005L, docBText, "en", 1L)).toDF("doc_id", "text", "lang", "epoch")
      .write.mode("append").parquet(s"$corpus/docs")
    Seq(0L, 1L).map(v => (v, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")

    def headLangs(): Map[Long, Option[String]] =
      CorpusLake.readCorpusAt(spark, dir, corpus, None)
        .filter($"doc_id" >= 1000000L)
        .select($"doc_id", $"lang").as[(Long, Option[String])]
        .collect().toMap
    // the evolved column serves; the pre-evolution epoch backfills null
    assert(headLangs() == Map(1000001L -> None, 1000005L -> Some("en")))
    // base docs backfill null too (spot-check one)
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" === 0L).select($"lang").as[Option[String]]
      .head().isEmpty)
    // schema is table-level: time travel BEFORE the evolution still
    // exposes the column, all-null (the table-format convention)
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, Some(0L))
      .filter($"doc_id" === 1000001L).select($"lang").as[Option[String]]
      .head().isEmpty)
    // the change feed carries the evolved column too (training-set delta
    // shipping), nulls where the epoch predates it
    val feed = CorpusLake.readCorpusChanges(spark, dir, corpus, Long.MinValue)
      .select($"doc_id", $"change_type", $"lang")
      .as[(Long, String, Option[String])].collect().toSet
    assert(feed == Set((1000001L, "insert", None),
      (1000005L, "insert", Some("en"))),
      s"change feed lost the evolved column: $feed")
    // OPTIMIZE unifies the mixed-schema store physically and changes
    // nothing logically
    val (fb, fa) = CorpusLake.optimizeCorpus(spark, corpus)
    assert(fa < fb)
    assert(headLangs() == Map(1000001L -> None, 1000005L -> Some("en")))

    // the ingest edge: carryCols rides metadata through the admission
    // gate (which itself reads only doc_id/text) into the docs store
    val (idx2, corpus2, maint2) = (s"$tmp/idx2", s"$tmp/corpus2", s"$tmp/maint2")
    CorpusLake.initCorpus(spark, dir, idx2)
    val in = MemoryStream[(Long, String, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text", "lang"), spark, dir, idx2, corpus2,
        maint2, carryCols = Seq("lang"))
      .start()
    in.addData((1000007L, docAText, "de"), (1000008L, lowQText, "fr"))
    q.processAllAvailable(); q.stop()
    val served = CorpusLake.readCorpusAt(spark, dir, corpus2, None)
      .filter($"doc_id" >= 1000000L)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    // the admitted doc carries its metadata; the low-quality doc is gone
    assert(served == Map(1000007L -> "de"),
      s"carryCols did not ride the admission gate: $served")
    // write-time refusals: an incompatibly-typed re-introduction of an
    // evolved column must refuse BEFORE any file lands (one bad append
    // would poison every later mergeSchema read) ...
    intercept[IllegalArgumentException] {
      CorpusLake.validateCarrySchema(spark, corpus2,
        Seq((1000009L, docBText, 7L)).toDF("doc_id", "text", "lang"))
    }
    // ... while a NEW column is the evolution, not a conflict
    CorpusLake.validateCarrySchema(spark, corpus2,
      Seq((1000009L, docBText, "en", "crawl9"))
        .toDF("doc_id", "text", "lang", "source_tag"))
    // reserved carry names refuse at wiring time
    intercept[IllegalArgumentException] {
      CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text", "epoch"), spark, dir, idx2,
        corpus2, maint2, carryCols = Seq("epoch"))
    }
    Caches.releaseAll()
  }

  test("deleteDocs: hide, base shadow, feed, re-admission past tombstone, vacuum purge") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-del").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)
    val nBase = Tables.nDocs(spark, dir)

    val in = MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint)
      .start()
    in.addData((1000001L, docAText)); q.processAllAvailable()
    in.addData((1000005L, docBText)); q.processAllAvailable()
    val Seq(v0, v1) = CorpusLake.manifest(spark, corpus)
      .orderBy($"version").select($"version").as[Long].collect().toSeq
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() ==
      nBase + 2)

    // delete one LAKE doc and one BASE doc, through the real API, while
    // the ingest stream is idle (the documented single-writer cadence)
    val vDel = CorpusLake.deleteDocs(spark, corpus,
      Seq(1000001L, 3L).toDF("doc_id"))
    assert(vDel == v1 + 1, s"delete version $vDel")

    def idsAt(v: Option[Long]) = CorpusLake.readCorpusAt(spark, dir, corpus, v)
      .select($"doc_id").as[Long].collect().toSet
    // head: the lake doc is gone AND the base row is shadowed
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() == nBase)
    assert(!idsAt(None).contains(1000001L) && !idsAt(None).contains(3L))
    // a delete is history, not an edit of it: pre-delete pins still serve
    assert(idsAt(Some(v1)).contains(1000001L) && idsAt(Some(v1)).contains(3L))
    // the delete epoch's manifest row audits the count, with the -1
    // batch-id sentinel that can never collide with a stream batch
    val delRow = CorpusLake.manifest(spark, corpus)
      .filter($"version" === vDel)
      .select($"n_deleted", $"batch_id").as[(Long, Long)].head()
    assert(delRow == (2L, -1L), s"delete manifest row: $delRow")

    def changes(from: Long) =
      CorpusLake.readCorpusChanges(spark, dir, corpus, from)
        .select($"doc_id", $"change_type", $"version", $"text")
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.get(3)))
        .toMap
    // incremental consumer at v1: both deletes ride, text-less
    assert(changes(v1) == Map(
      1000001L -> ("delete", vDel, null),
      3L -> ("delete", vDel, null)), s"window (v1, head]: ${changes(v1)}")
    // bootstrap consumer: the lake doc's insert+delete nets to NOTHING
    // (it was never visible at -inf), the base doc's delete still rides
    val boot = changes(Long.MinValue)
    assert(!boot.contains(1000001L),
      s"insert+delete in one window must be suppressed: $boot")
    assert(boot(3L)._1 == "delete" && boot(1000005L)._1 == "insert")

    // re-admission on the SAME stream: the id returns with fresh text at
    // an epoch past the tombstone (deletes are reversible)
    val gammaText = words("gamma", 40).mkString(" ")
    in.addData((1000001L, gammaText)); q.processAllAvailable()
    q.stop()
    val vRe = CorpusLake.manifest(spark, corpus)
      .agg(org.apache.spark.sql.functions.max($"version")).as[Long].head()
    assert(vRe == vDel + 1, s"re-admission version $vRe")
    val headText = CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" === 1000001L).select($"text").as[String].collect()
    assert(headText.toSeq == Seq(gammaText), "re-admission did not serve")
    assert(!idsAt(Some(vDel)).contains(1000001L),
      "the tombstone-pinned version must still hide the doc")
    // a consumer whose cursor sits AT the delete sees the return as an
    // INSERT (its last-known state was deleted), not an update
    assert(changes(vDel)(1000001L) == ("insert", vRe, gammaText),
      s"re-admission across a delete cursor: ${changes(vDel)}")

    val stats = CorpusLake.lakeStats(spark, corpus)
      .as[(String, Long)].collect().toMap
    assert(stats("tombstone_rows") == 2L, s"stats: $stats")

    // vacuum at the delete version is the PURGE: the deleted doc's
    // superseded text rows physically leave the store, only the
    // (text-less) tombstone survives as floor state
    CorpusLake.vacuumCorpus(spark, corpus, vDel)
    val survivingEpochs = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$corpus/docs")
      .filter($"doc_id" === 1000001L)
      .select($"epoch").as[Long].collect().toSet
    assert(survivingEpochs == Set(vDel, vRe),
      s"vacuum did not purge the pre-delete text: $survivingEpochs")
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() ==
      nBase + 1)
    intercept[IllegalArgumentException] {
      CorpusLake.readCorpusAt(spark, dir, corpus, Some(v1))
    }
    Caches.releaseAll()
  }

  test("stream-integrated deletes: a takedown marker rides the ingest stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-sdel").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)
    val nBase = Tables.nDocs(spark, dir)

    val in = MemoryStream[(Long, String, Boolean)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text", "takedown"), spark, dir, idx,
        corpus, maint, deleteCol = Some("takedown"))
      .start()
    // batch 1: two admissions
    in.addData((1000001L, docAText, false), (1000005L, docBText, false))
    q.processAllAvailable()
    // batch 2: a MIXED epoch — one fresh admission, one takedown of a
    // lake doc, one takedown of a BASE doc — all in one commit, no
    // quiescence, no out-of-band API
    val gammaText = words("gamma", 40).mkString(" ")
    in.addData((1000007L, gammaText, false), (1000001L, "", true),
      (3L, "", true))
    q.processAllAvailable()
    // batch 3: a delete-ONLY epoch (pure takedown list — the admission
    // machinery runs over zero upserts and the epoch still commits)
    in.addData((1000005L, "", true))
    q.processAllAvailable()
    q.stop()

    val ids = CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .select($"doc_id").as[Long].collect().toSet
    assert(!ids.contains(1000001L) && !ids.contains(3L),
      "stream takedown did not hide the doc / shadow the base row")
    assert(!ids.contains(1000005L),
      "delete-only epoch's takedown did not serve")
    assert(ids.contains(1000007L))
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() ==
      nBase + 2 - 2)
    // the epochs' manifest rows audit BOTH sides
    val man = CorpusLake.manifest(spark, corpus).orderBy($"version")
      .select($"n_admitted", $"n_deleted").as[(Long, Long)].collect().toSeq
    assert(man == Seq((2L, 0L), (1L, 2L), (0L, 1L)), s"manifest: $man")
    // the change feed carries the takedowns for index retraction
    val feed = CorpusLake.readCorpusChanges(spark, dir, corpus, 0L)
      .select($"doc_id", $"change_type").as[(Long, String)].collect().toMap
    assert(feed == Map(1000001L -> "delete", 3L -> "delete",
      1000005L -> "delete", 1000007L -> "insert"), s"feed: $feed")
    // the takedown marker itself never reaches the store
    assert(!spark.read.option("recursiveFileLookup", "true")
      .option("mergeSchema", "true").parquet(s"$corpus/docs")
      .columns.contains("takedown"))

    // same-batch upsert+delete of one id is refused loudly (same-epoch
    // LWW is undefined) — the stream fails rather than committing it
    val in2 = MemoryStream[(Long, String, Boolean)]
    val q2 = CorpusLake.maintainCorpusStream(
        in2.toDF().toDF("doc_id", "text", "takedown"), spark, dir, idx,
        s"$tmp/corpus2", s"$tmp/maint2", deleteCol = Some("takedown"))
      .start()
    in2.addData((1000009L, docAText, false), (1000009L, "", true))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    // wiring-time refusals: reserved/carry collisions and absent columns
    intercept[IllegalArgumentException] {
      CorpusLake.maintainCorpusStream(
        in2.toDF().toDF("doc_id", "text", "takedown"), spark, dir, idx,
        corpus, maint, deleteCol = Some("_deleted"))
    }
    intercept[IllegalArgumentException] {
      CorpusLake.maintainCorpusStream(
        in2.toDF().toDF("doc_id", "text", "takedown"), spark, dir, idx,
        corpus, maint, deleteCol = Some("missing"))
    }
    Caches.releaseAll()
  }

  test("dedup-index GC: a takedown's bucket rows leave the index at the fold, verdicts unchanged") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-gc").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)
    def baseBuckets(id: Long): Long = spark.read.parquet(
        graft.storage.Artifact.resolve(spark, idx, "buckets"))
      .filter($"doc_id" === id).count()

    val in = MemoryStream[(Long, String, Boolean)]
    // compactAt ~0 so every commit folds the delta into the base
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text", "takedown"), spark, dir, idx,
        corpus, maint, compactAt = 0.0001, deleteCol = Some("takedown"))
      .start()
    in.addData((1000001L, docAText, false)); q.processAllAvailable()
    assert(baseBuckets(1000001L) > 0,
      "admitted doc's buckets did not fold into the base")
    // the takedown rides with a fresh admission; the fold that the new
    // buckets trigger also GCs the tombstoned doc's rows
    in.addData((1000005L, docBText, false), (1000001L, "", true))
    q.processAllAvailable()
    assert(baseBuckets(1000001L) == 0,
      "taken-down doc's bucket rows survived the GC fold")
    assert(baseBuckets(1000005L) > 0)
    // verdicts unchanged in the cheaper index: a byte-copy of the
    // DELETED text re-admits; a byte-copy of the live doc stays duplicate
    in.addData((1000009L, docAText, false), (1000010L, docBText, false))
    q.processAllAvailable()
    q.stop()
    val log = CorpusLake.admissionLog(spark, corpus)
      .filter($"doc_id" >= 1000009L)
      .select($"doc_id", $"decision").as[(Long, String)].collect().toMap
    assert(log == Map(1000009L -> Curate.Admitted,
      1000010L -> Curate.Duplicate), s"post-GC verdicts: $log")
    Caches.releaseAll()
  }

  test("deleteDocs guards: _deleted carry refusal, empty/idempotent deletes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-delguard").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)
    val in = MemoryStream[(Long, String, Boolean)]
    // the ONLY way to write tombstones is the delete API: a carry column
    // named _deleted (or anything _-prefixed) refuses at wiring time
    intercept[IllegalArgumentException] {
      CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text", "_deleted"), spark, dir, idx,
        corpus, maint, carryCols = Seq("_deleted"))
    }
    intercept[IllegalArgumentException] {
      CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text", "_meta"), spark, dir, idx,
        corpus, maint, carryCols = Seq("_meta"))
    }
    intercept[IllegalArgumentException] {
      CorpusLake.deleteDocs(spark, corpus, spark.range(0)
        .select($"id".as("doc_id")))
    }
    // deleting an unknown id is inert; deleting it twice is idempotent
    val va = CorpusLake.deleteDocs(spark, corpus, Seq(42L).toDF("doc_id"))
    val vb = CorpusLake.deleteDocs(spark, corpus, Seq(42L).toDF("doc_id"))
    assert(vb == va + 1)
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" === 42L).count() == 0)
    // and the doc count is otherwise untouched
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, None).count() ==
      Tables.nDocs(spark, dir) - 1)
    Caches.releaseAll()
  }

  test("versioned OPTIMIZE: pre-flip scans finish without retry, appends follow the pointer, reclaim bounds disk") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-gen").toString
    val corpus = s"$tmp/corpus"
    def append(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "epoch").repartition(4)
        .write.mode("append").parquet(s"$corpus/docs")
    append((1L to 20L).map(i => (1000000L + i, s"doc $i v0", 0L)))
    append((5L to 8L).map(i => (1000000L + i, s"doc $i v1", 1L)))
    Seq(0L, 1L).map(v => (v, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")

    def snap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.filter($"doc_id" >= 1000000L).as[(Long, String)].collect().toMap
    // an in-flight reader: the plan (and its concrete file listing) is
    // built BEFORE the rewrite — the exact cross-session scan the
    // in-place swap strands
    val preFlip = CorpusLake.readCorpusAt(spark, dir, corpus, None)
    val expected = snap(CorpusLake.readCorpusAt(spark, dir, corpus, None))

    val (fb, fa) = CorpusLake.optimizeCorpusVersioned(spark, corpus,
      targetRowsPerFile = 1000L)
    assert(fa < fb, s"versioned OPTIMIZE did not pack: $fb -> $fa")
    // the old generation is still on disk: the pre-flip scan completes
    // WITHOUT a retry and reads exactly the committed state
    assert(snap(preFlip) == expected,
      "pre-flip scan failed or drifted across the versioned rewrite")
    // post-flip reads resolve the new generation and agree
    assert(snap(CorpusLake.readCorpusAt(spark, dir, corpus, None)) == expected)
    assert(CorpusLake.storeName(spark, corpus, "docs") == "docs_gen_1")

    // writers follow the pointer: a delete (tombstone append + manifest)
    // lands in the NEW generation and serves
    CorpusLake.deleteDocs(spark, corpus, Seq(1000001L).toDF("doc_id"))
    val afterDel = snap(CorpusLake.readCorpusAt(spark, dir, corpus, None))
    assert(!afterDel.contains(1000001L), "post-flip delete did not serve")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$corpus/docs_gen_1").filter($"_deleted" === true).count() == 1,
      "tombstone append did not follow the generation pointer")

    // the DESCRIBE surface reports the pointer generation and the
    // reclaim backlog (the superseded legacy dir still on disk)
    def genStats() = CorpusLake.lakeStats(spark, corpus)
      .as[(String, Long)].collect().toMap
    assert(genStats()("store_generation") == 1L &&
      genStats()("stale_generation_dirs") == 1L, s"stats: ${genStats()}")

    // reclaim: an enforced drain window refuses young dirs wholesale ...
    assert(CorpusLake.reclaimStoreGenerations(spark, corpus,
      minAgeMs = Long.MaxValue) == 0L,
      "min-age guard reclaimed a generation inside the drain window")
    assert(genStats()("stale_generation_dirs") == 1L)
    // ... then the superseded generation (the legacy dir) is deleted,
    // serving unaffected; a second cycle reclaims gen_1
    assert(CorpusLake.reclaimStoreGenerations(spark, corpus) >= 1L)
    assert(genStats()("stale_generation_dirs") == 0L)
    assert(!graft.sources.Formats.pathExists(spark, s"$corpus/docs"))
    assert(snap(CorpusLake.readCorpusAt(spark, dir, corpus, None)) == afterDel)
    val pre2 = CorpusLake.readCorpusAt(spark, dir, corpus, None)
    CorpusLake.optimizeCorpusVersioned(spark, corpus, targetRowsPerFile = 1000L)
    assert(CorpusLake.storeName(spark, corpus, "docs") == "docs_gen_2")
    assert(snap(pre2) == afterDel, "second-cycle pre-flip scan stranded")
    assert(CorpusLake.reclaimStoreGenerations(spark, corpus) >= 1L)
    assert(!graft.sources.Formats.pathExists(spark, s"$corpus/docs_gen_1"))
    assert(snap(CorpusLake.readCorpusAt(spark, dir, corpus, None)) == afterDel)

    // the in-place maintenance APIs keep working against the current
    // generation (vacuum operates on the resolved store)
    CorpusLake.vacuumCorpus(spark, corpus, 1L)
    assert(snap(CorpusLake.readCorpusAt(spark, dir, corpus, None)) == afterDel)

    // versioned vacuum: the history collapse also lands as a new
    // generation — a pre-vacuum scan finishes without retry
    val pre3 = CorpusLake.readCorpusAt(spark, dir, corpus, None)
    CorpusLake.vacuumCorpus(spark, corpus, 1L, versioned = true)
    assert(CorpusLake.storeName(spark, corpus, "docs") == "docs_gen_3")
    assert(snap(pre3) == afterDel, "pre-vacuum scan stranded by the flip")
    assert(snap(CorpusLake.readCorpusAt(spark, dir, corpus, None)) == afterDel)
    assert(CorpusLake.reclaimStoreGenerations(spark, corpus) >= 1L)
    assert(snap(CorpusLake.readCorpusAt(spark, dir, corpus, None)) == afterDel)
    Caches.releaseAll()
  }

  test("corpus lake: the reclaim drain window measures from the FLIP, " +
      "not the old dir's writes") {
    import spark.implicits._
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-reclaim-age").toString + "/corpus"
    Seq((1L, "reclaim age probe", 0L)).toDF("doc_id", "text", "epoch")
      .write.mode("append").parquet(s"$corpus/docs")
    Seq((0L, 0L, 1L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")
    // the store goes IDLE for longer than the drain window...
    Thread.sleep(1600)
    // ...then a versioned OPTIMIZE supersedes the idle legacy dir NOW.
    // The flip never touches the old dir, so its newest file predates the
    // window — but a scan that planned against it may still be draining:
    // age must be measured from the flip instant, and reclaim must refuse
    CorpusLake.optimizeCorpusVersioned(spark, corpus,
      targetRowsPerFile = 1000L)
    assert(CorpusLake.reclaimStoreGenerations(spark, corpus,
      minAgeMs = 1500L) == 0L,
      "idle-store generation reclaimed immediately after its flip")
    Thread.sleep(1600)
    assert(CorpusLake.reclaimStoreGenerations(spark, corpus,
      minAgeMs = 1500L) >= 1L,
      "generation not reclaimed after the drain window elapsed")
  }

  test("corpus lake: evolved carry columns survive a vacuum rewrite") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-evvac").toString
    val corpus = s"$tmp/corpus"
    // hand-built two-epoch lake whose SECOND epoch evolved the schema
    Seq((1000001L, docAText, 0L)).toDF("doc_id", "text", "epoch")
      .write.mode("append").parquet(s"$corpus/docs")
    Seq((1000002L, docBText, 1L, "en"))
      .toDF("doc_id", "text", "epoch", "lang")
      .write.mode("append").parquet(s"$corpus/docs")
    Seq(0L, 1L).map(v => (v, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")
    def langs() = CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" >= 1000000L)
      .select($"doc_id", $"lang").as[(Long, Option[String])].collect().toMap
    val before = langs()
    assert(before == Map(1000001L -> None, 1000002L -> Some("en")))
    // vacuum's wholesale rewrite reads via the mergeSchema path — the
    // evolved column must survive, nulls still backfilled
    CorpusLake.vacuumCorpus(spark, corpus, 0L)
    assert(langs() == before,
      "vacuum dropped or corrupted an evolved carry column")
    Caches.releaseAll()
  }

  test("corpus lake: OPTIMIZE coalesces files without changing any read") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-opt").toString
    val corpus = s"$tmp/corpus"
    // hand-built lake: every epoch lands as 4 files (the small-file
    // problem), with a replayed epoch and an uncommitted one on top
    def append(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "epoch").repartition(4)
        .write.mode("append").parquet(s"$corpus/docs")
    append((1L to 20L).map(i => (1000000L + i, s"doc $i v0", 0L)))
    val e1 = (5L to 8L).map(i => (1000000L + i, s"doc $i v1", 1L))
    append(e1)
    append(e1) // byte-identical crash replay of epoch 1
    append(Seq((1000021L, "doc 21 v2", 2L)))
    append(Seq((1000001L, "doc 1 v3", 3L))) // data landed, manifest never
    Seq(0L, 1L, 2L).map(v => (v, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")
    Seq((1000001L, Curate.Admitted, 0L,
        None: Option[Long], 0L, 0.5, 0L))
      .toDF("doc_id", "decision", "n_dup_matches", "first_dup",
        "n_bench_hits", "quality", "epoch")
      .repartition(3)
      .write.mode("append").parquet(s"$corpus/decisions")

    def snap(v: Option[Long]): Map[Long, String] =
      CorpusLake.readCorpusAt(spark, dir, corpus, v)
        .filter($"doc_id" >= 1000000L)
        .as[(Long, String)].collect().toMap
    def cdc(from: Long): Set[(Long, String, Long, String)] =
      CorpusLake.readCorpusChanges(spark, dir, corpus, from)
        .as[(Long, String, Long, String)].collect().toSet
    val (headB, at0B, cdcB) = (snap(None), snap(Some(0L)), cdc(0L))
    assert(headB(1000005L) == "doc 5 v1" && headB(1000001L) == "doc 1 v0",
      "fixture lake is not in the expected pre-optimize state")
    val logB = CorpusLake.admissionLog(spark, corpus).collect().toSeq

    val (fb, fa) = CorpusLake.optimizeCorpus(spark, corpus,
      targetRowsPerFile = 1000L)
    assert(fa < fb, s"OPTIMIZE did not reduce files: $fb -> $fa")
    // physical rewrite, logical no-op: head, time travel, the change
    // feed, and the audit log are all byte-identical
    assert(snap(None) == headB)
    assert(snap(Some(0L)) == at0B)
    assert(cdc(0L) == cdcB)
    assert(CorpusLake.admissionLog(spark, corpus).collect().toSeq == logB)
    // the replayed epoch collapsed to ONE row per (doc_id, epoch) in the
    // rewrite — the same collapse every reader applies
    assert(spark.read.parquet(s"$corpus/docs")
      .filter($"epoch" === 1L).count() == 4L)
    // the uncommitted epoch survived the rewrite, still invisible ...
    assert(spark.read.parquet(s"$corpus/docs")
      .filter($"epoch" === 3L).count() == 1L)
    assert(snap(None)(1000001L) == "doc 1 v0")
    // the DESCRIBE surface reads the post-optimize state correctly
    val stats = CorpusLake.lakeStats(spark, corpus)
      .as[(String, Long)].collect().toMap
    assert(stats("committed_epochs") == 3L && stats("committed_head") == 2L)
    assert(stats("uncommitted_epochs") == 1L, s"stats: $stats")
    assert(stats("docs_rows") == 26L) // 20 + 4 (replay collapsed) + 1 + 1
    assert(stats("docs_files") + stats("decisions_files") == fa)
    assert(stats("pinned_runs") == 0L && stats("retention_floor") == -1L)
    // ... and the manifest-last protocol still completes it: committing
    // epoch 3 AFTER the optimize makes its rows serve
    Seq((3L, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")
    assert(snap(None)(1000001L) == "doc 1 v3",
      "post-optimize commit of the in-flight epoch did not serve")
    Caches.releaseAll()
  }

  test("manifest compaction: O(1) files, identical history, commits follow the pointer") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-mancompact").toString
    val corpus = s"$tmp/corpus"
    // hand-built lake: 6 commits, each manifest row its own append (the
    // one-file-per-commit accretion compactManifest exists to bound)
    for (v <- 0L to 5L) {
      Seq((1000000L + v, s"doc $v", v)).toDF("doc_id", "text", "epoch")
        .write.mode("append").parquet(s"$corpus/docs")
      Seq((v, 1L, 1L, 0L, 0L, 0L))
        .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
          "n_contaminated", "n_low_quality")
        .write.mode("append").parquet(s"$corpus/manifest")
    }
    def history() = CorpusLake.manifest(spark, corpus)
      .select($"version", $"n_arrived", $"n_admitted")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    def served() = CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" >= 1000000L).as[(Long, String)].collect().toMap
    val expectHist = history()
    val expectDocs = served()
    assert(expectHist.size == 6 && expectDocs.size == 6)
    // an in-flight reader planned against the legacy manifest dir: the
    // compaction must not strand it (old generation stays on disk)
    val preFlip = CorpusLake.manifest(spark, corpus)
      .select($"version").as[Long]

    val (fb, fa) = CorpusLake.compactManifest(spark, corpus)
    assert(fb >= 6L && fa == 1L, s"compaction did not pack: $fb -> $fa")
    assert(CorpusLake.storeName(spark, corpus, "manifest") == "manifest_gen_1")
    assert(preFlip.collect().sorted.toSeq == (0L to 5L),
      "pre-flip manifest scan stranded by the compaction")
    assert(history() == expectHist, "compaction changed the commit history")
    assert(served() == expectDocs)
    // time travel still pins against the compacted history
    assert(CorpusLake.readCorpusAt(spark, dir, corpus, Some(2L))
      .filter($"doc_id" >= 1000000L).count() == 3L)

    // a new commit (deleteDocs: tombstone epoch + manifest row) follows the
    // pointer into the new generation — head advances, doc hides
    val vDel = CorpusLake.deleteDocs(spark, corpus, Seq(1000000L).toDF("doc_id"))
    assert(vDel == 6L)
    assert(history().map(_._1) == (0L to 6L),
      "post-compaction commit did not serve through the new generation")
    assert(!served().contains(1000000L))
    assert(spark.read.parquet(s"$corpus/manifest_gen_1")
      .filter($"version" === 6L).count() == 1L,
      "manifest row did not land in the live generation dir")

    // the DESCRIBE surface sees the generation and the reclaim backlog
    def stats() = CorpusLake.lakeStats(spark, corpus)
      .as[(String, Long)].collect().toMap
    assert(stats()("manifest_generation") == 1L &&
      stats()("manifest_files") == 2L && // checkpoint + the delete commit
      stats()("stale_generation_dirs") == 1L, s"stats: ${stats()}")
    // reclaim drops the legacy dir after the drain window; reads unchanged
    assert(CorpusLake.reclaimStoreGenerations(spark, corpus,
      minAgeMs = Long.MaxValue) == 0L)
    assert(CorpusLake.reclaimStoreGenerations(spark, corpus) >= 1L)
    assert(!graft.sources.Formats.pathExists(spark, s"$corpus/manifest"))
    assert(history().map(_._1) == (0L to 6L) && !served().contains(1000000L))

    // a crashed compaction = a gen dir written but the pointer never
    // flipped: readers must keep serving the live generation and ignore
    // the orphan entirely; the next compaction attempt overwrites it
    Seq((999L, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("overwrite").parquet(s"$corpus/manifest_gen_2")
    assert(CorpusLake.storeName(spark, corpus, "manifest") == "manifest_gen_1",
      "an orphan gen dir moved the pointer")
    assert(history().map(_._1) == (0L to 6L),
      "an orphan (crashed-compaction) gen dir leaked into the manifest read")
    val (_, faCrash) = CorpusLake.compactManifest(spark, corpus)
    assert(faCrash == 1L &&
      CorpusLake.storeName(spark, corpus, "manifest") == "manifest_gen_2")
    assert(history().map(_._1) == (0L to 6L),
      "re-run compaction did not overwrite the crash orphan")

    // a data-store versioned rewrite carries the manifest generation
    // forward in the shared pointer (and vice versa: a second manifest
    // compaction lands as gen 2 without touching the docs generation)
    CorpusLake.optimizeCorpusVersioned(spark, corpus, targetRowsPerFile = 1000L)
    assert(CorpusLake.storeName(spark, corpus, "manifest") == "manifest_gen_2")
    assert(CorpusLake.storeName(spark, corpus, "docs") == "docs_gen_1")
    val (_, fa2) = CorpusLake.compactManifest(spark, corpus)
    assert(fa2 == 1L)
    assert(CorpusLake.storeName(spark, corpus, "manifest") == "manifest_gen_3")
    assert(CorpusLake.storeName(spark, corpus, "docs") == "docs_gen_1")
    assert(history().map(_._1) == (0L to 6L) && !served().contains(1000000L))
    Caches.releaseAll()
  }

  test("timestamp time travel: as-of resolves commit instants; legacy commits read as old") {
    import spark.implicits._
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-asof").toString
    val corpus = s"$tmp/corpus"
    // legacy epoch 0: hand-written manifest with NO committed_at column
    // (a lake from before the timestamp split)
    Seq((1000001L, "asof doc v0", 0L)).toDF("doc_id", "text", "epoch")
      .write.mode("append").parquet(s"$corpus/docs")
    Seq((0L, 1L, 1L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")
    Thread.sleep(15)
    val tA = System.currentTimeMillis()
    Thread.sleep(15)
    val v1 = CorpusLake.deleteDocs(spark, corpus, Seq(1000001L).toDF("doc_id"))
    Thread.sleep(15)
    val tB = System.currentTimeMillis()
    def docAt(ts: Long): Boolean =
      CorpusLake.readCorpusAsOf(spark, dir, corpus, ts)
        .filter($"doc_id" === 1000001L).count() == 1
    // before the delete's instant: the legacy commit (null committed_at)
    // is arbitrarily old, so tA resolves version 0 — the doc serves
    assert(docAt(tA), s"as-of $tA did not resolve the legacy commit")
    // after it: the tombstone version wins — the doc hides
    assert(!docAt(tB), s"as-of $tB did not resolve the delete at v$v1")
    assert(docAt(System.currentTimeMillis()) == false)
    // an instant older than the first (timestamped) commit refuses
    val corpus2 = s"$tmp/corpus2"
    val t0 = System.currentTimeMillis()
    Thread.sleep(15)
    CorpusLake.deleteDocs(spark, corpus2, Seq(42L).toDF("doc_id"))
    intercept[IllegalArgumentException] {
      CorpusLake.readCorpusAsOf(spark, dir, corpus2, t0)
    }
    // age-based retention composes the same resolve with vacuum: the
    // cutoff resolves to the delete version, the floor rises there, and
    // a pre-floor pin refuses afterward — while nothing old enough to
    // collect refuses before any marker lands
    intercept[IllegalArgumentException] {
      CorpusLake.vacuumCorpusOlderThan(spark, corpus2, t0)
    }
    assert(CorpusLake.vacuumCorpusOlderThan(spark, corpus, tB) == v1,
      "cutoff did not resolve to the delete version")
    assert(CorpusLake.retentionFloor(spark, corpus) == v1)
    intercept[IllegalArgumentException] {
      CorpusLake.readCorpusAt(spark, dir, corpus, Some(v1 - 1))
    }
    Caches.releaseAll()
  }

  test("expectations gate: invalid rows named, quarantined, audited") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-expect").toString
    val (idx, corpus, maint) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint")
    CorpusLake.initCorpus(spark, dir, idx)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint,
        expectations = Seq(
          "min_tokens" -> (org.apache.spark.sql.functions.size(
            graft.functions.Text.tokens($"text")) >= 5),
          "max_chars" -> (org.apache.spark.sql.functions.length($"text") <= 500)))
      .start()
    // one clean doc, one too short (first expectation names it), one too
    // long (second expectation), one low-quality but valid (the content
    // gate still runs behind the expectations)
    in.addData((1000001L, docAText), (1000002L, "tiny doc"),
      (1000003L, words("long", 120).mkString(" ")), (1000004L, lowQText))
    q.processAllAvailable()
    q.stop()
    val log = CorpusLake.admissionLog(spark, corpus)
      .select($"doc_id", $"decision").as[(Long, String)].collect().toMap
    assert(log(1000001L) == Curate.Admitted, s"log: $log")
    assert(log(1000002L) == "invalid:min_tokens", s"log: $log")
    assert(log(1000003L) == "invalid:max_chars", s"log: $log")
    assert(log(1000004L) == Curate.LowQuality, s"log: $log")
    // quarantine: invalid rows reach neither the lake nor the dedup index
    val served = CorpusLake.readCorpusAt(spark, dir, corpus, None)
      .filter($"doc_id" >= 1000000L).select($"doc_id").as[Long]
      .collect().toSet
    assert(served == Set(1000001L), s"served: $served")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$maint/buckets").filter($"doc_id" === 1000002L).count() == 0,
      "an invalid row's buckets entered the dedup index")
    // the audit row accounts for every arrival
    val man = CorpusLake.manifest(spark, corpus)
      .select($"n_arrived", $"n_admitted", $"n_low_quality", $"n_invalid")
      .as[(Long, Long, Long, Long)].head()
    assert(man == ((4L, 1L, 1L, 2L)), s"manifest audit: $man")
    Caches.releaseAll()
  }

  test("maintenance writer lease: exclusivity, TTL takeover, scoped release") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-corpus-lease").toString
    val corpus = s"$tmp/corpus"
    // exclusivity: the second writer is refused while the first holds
    assert(CorpusLake.acquireWriterLease(spark, corpus, "writer-a"))
    assert(!CorpusLake.acquireWriterLease(spark, corpus, "writer-b"))
    assert(CorpusLake.heldWriterLease(spark, corpus, "writer-a"))
    assert(!CorpusLake.heldWriterLease(spark, corpus, "writer-b"))
    // the scoped runner surfaces contention as a retryable refusal,
    // never a silent concurrent rewrite
    intercept[IllegalStateException] {
      CorpusLake.withWriterLease(spark, corpus, "writer-b") { fail("ran") }
    }
    // releasing a lease you don't hold is a no-op
    CorpusLake.releaseWriterLease(spark, corpus, "writer-b")
    assert(CorpusLake.heldWriterLease(spark, corpus, "writer-a"))
    // normal handoff
    CorpusLake.releaseWriterLease(spark, corpus, "writer-a")
    assert(CorpusLake.acquireWriterLease(spark, corpus, "writer-b"))
    // TTL takeover: a crashed holder's stale lease is claimable...
    Thread.sleep(20)
    assert(CorpusLake.acquireWriterLease(spark, corpus, "writer-a",
      ttlMs = 1L), "stale lease was not taken over")
    assert(CorpusLake.heldWriterLease(spark, corpus, "writer-a"))
    // ...and the zombie's late release cannot unseat the new holder
    CorpusLake.releaseWriterLease(spark, corpus, "writer-b")
    assert(CorpusLake.heldWriterLease(spark, corpus, "writer-a"))
    // the scoped runner releases on both exit paths
    CorpusLake.releaseWriterLease(spark, corpus, "writer-a")
    assert(CorpusLake.withWriterLease(spark, corpus, "writer-a") { 42 } == 42)
    assert(CorpusLake.acquireWriterLease(spark, corpus, "writer-b"))
    CorpusLake.releaseWriterLease(spark, corpus, "writer-b")
    intercept[RuntimeException] {
      CorpusLake.withWriterLease(spark, corpus, "writer-a") {
        throw new RuntimeException("maintenance failed")
      }
    }
    assert(CorpusLake.acquireWriterLease(spark, corpus, "writer-b"),
      "lease leaked through the exception exit path")
    CorpusLake.releaseWriterLease(spark, corpus, "writer-b")
  }
}
