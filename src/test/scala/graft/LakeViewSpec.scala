package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusLake, LakeView}
import graft.sources.Tables

/** Declarative incremental materialized views over the lake: create-time
  * validation, window-split invariance, crash-replay idempotency, delete
  * retraction, compaction transparency, and branch composition. */
class LakeViewSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private val dims = Seq("bucket" -> "CAST(doc_id % 5 AS INT)")
  private val measures = Seq(
    "chars" -> "CAST(length(text) AS BIGINT)",
    "toks" -> "CAST(size(split(text, ' ')) AS BIGINT)")

  private def commitTo(corpus: String, v: Long): Unit = {
    import spark.implicits._
    Seq((v, 0L, 0L, 0L, 0L, 0L))
      .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
        "n_contaminated", "n_low_quality")
      .write.mode("append").parquet(s"$corpus/manifest")
  }

  private def baseDocs = Tables.spread(Tables.documents(spark, dir))
    .select(col("doc_id"), col("text"))

  /** Lake with: v0 = " u1" updates (ids ≡1 mod 10), v1 = deleteDocs of
    * ids ≡2 mod 9, v2 = " re" re-admission of ids ≡2 mod 27. */
  private def mkLake(): String = {
    import spark.implicits._
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-view-spec").toString + "/corpus"
    baseDocs.filter($"doc_id" % 10 === 1)
      .select($"doc_id", concat($"text", lit(" u1")).as("text"),
        lit(0L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 0L)
    CorpusLake.deleteDocs(spark, corpus,
      baseDocs.filter($"doc_id" % 9 === 2).select($"doc_id"))
    baseDocs.filter($"doc_id" % 27 === 2)
      .select($"doc_id", concat($"text", lit(" re")).as("text"),
        lit(2L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 2L)
    corpus
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select(col("bucket"), col("n_docs"), col("chars"), col("toks"))
    .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Int])

  /** The ground truth: the view recomputed over a pinned lake snapshot
    * (the head when None). */
  private def recompute(corpus: String, version: Option[Long] = None) = rows(
    CorpusLake.readCorpusAt(spark, dir, corpus, version)
      .select(expr(dims.head._2).as("bucket"),
        expr(measures(0)._2).as("chars"), expr(measures(1)._2).as("toks"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("chars"),
        sum(col("toks")).as("toks")))

  test("lake view: create-time validation refuses bad declarations") {
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-val").toString + "/view"
    intercept[Exception] { // unresolvable column at declaration time
      LakeView.createView(spark, dir, v,
        Seq("b" -> "no_such_column % 3"), Nil)
    }
    intercept[IllegalArgumentException] { // reserved alias
      LakeView.createView(spark, dir, v,
        Seq("n_docs" -> "doc_id % 3"), Nil)
    }
    intercept[IllegalArgumentException] { // duplicate alias
      LakeView.createView(spark, dir, v,
        Seq("b" -> "doc_id % 3"), Seq("b" -> "length(text)"))
    }
    LakeView.createView(spark, dir, v, dims, measures)
    intercept[Exception] { // re-declaration refused
      LakeView.createView(spark, dir, v, dims, measures)
    }
  }

  test("lake view: window-split invariance, delete retraction, replay, compaction") {
    import spark.implicits._
    val corpus = mkLake()
    // one-shot consumption
    val vAll = java.nio.file.Files
      .createTempDirectory("graft-view-all").toString + "/view"
    LakeView.createView(spark, dir, vAll, dims, measures)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, vAll)
      .contains((Long.MinValue, 2L)))
    val truth = recompute(corpus)
    assert(rows(LakeView.readView(spark, vAll)) == truth,
      "one-shot view diverged from the recompute")

    // per-version consumption with a compaction between windows
    val vSplit = java.nio.file.Files
      .createTempDirectory("graft-view-split").toString + "/view"
    LakeView.createView(spark, dir, vSplit, dims, measures)
    for (u <- Seq(0L, 1L, 2L))
      assert(LakeView.refreshViewFromLake(spark, dir, corpus, vSplit,
        upTo = Some(u)).isDefined)
    assert(rows(LakeView.readView(spark, vSplit)) == truth,
      "per-version windows diverged from the one-shot view")

    // crash replay: lose the cursor, re-consume the last window — the
    // byte-identical per-version rows collapse on read
    val fs = new org.apache.hadoop.fs.Path(s"$vSplit/cursor")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$vSplit/cursor"), true)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, vSplit)
      .contains((Long.MinValue, 2L)))
    assert(rows(LakeView.readView(spark, vSplit)) == truth,
      "replayed window double-counted")

    // view time travel: each lake version's view state matches the
    // pinned-snapshot recompute (vAll still has every per-version delta)
    for (v <- Seq(0L, 1L, 2L))
      assert(rows(LakeView.readViewAt(spark, vAll, v))
        == recompute(corpus, Some(v)),
        s"view time travel diverged at version $v")

    // compaction folds without changing the serve
    LakeView.compactView(spark, vSplit)
    assert(rows(LakeView.readView(spark, vSplit)) == truth,
      "compaction changed the serve")
    // deltas are gone from the additive store (folded into the base)
    assert(spark.read.parquet(s"$vSplit/delta").count() == 0L,
      "compaction left folded deltas behind")
    // folded history refuses; the fold watermark itself still serves
    intercept[IllegalArgumentException] {
      LakeView.readViewAt(spark, vSplit, 1L)
    }
    assert(rows(LakeView.readViewAt(spark, vSplit, 2L)) == truth,
      "fold-watermark version must still serve")
  }

  test("lake view: the auto-compact cadence waits out compactEvery " +
      "versions on the FIRST fold too — a fresh view keeps its history") {
    import spark.implicits._
    val corpus = mkLake() // committed versions 0, 1, 2
    val view = java.nio.file.Files
      .createTempDirectory("graft-view-cadence").toString + "/view"
    LakeView.createView(spark, dir, view, dims, measures)
    // 3 versions accumulated < compactEvery = 5: the first refresh must
    // NOT fold (the pre-fix MinValue short-circuit compacted a
    // never-folded view on refresh #1 regardless, destroying all
    // readViewAt history the moment a stream attached a fresh view)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, view,
      compactEvery = 5).contains((Long.MinValue, 2L)))
    assert(rows(LakeView.readViewAt(spark, view, 0L))
      == recompute(corpus, Some(0L)),
      "a fresh view below the cadence must keep its full history")
    assert(rows(LakeView.readView(spark, view)) == recompute(corpus))
    // two more committed versions reach the cadence (5 versions since
    // the seed watermark): the next refresh folds
    baseDocs.filter($"doc_id" % 10 === 4)
      .select($"doc_id", concat($"text", lit(" u3")).as("text"),
        lit(3L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 3L)
    baseDocs.filter($"doc_id" % 10 === 6)
      .select($"doc_id", concat($"text", lit(" u4")).as("text"),
        lit(4L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 4L)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, view,
      compactEvery = 5).contains((2L, 4L)))
    val truth4 = recompute(corpus)
    assert(rows(LakeView.readView(spark, view)) == truth4,
      "the cadence fold changed the serve")
    assert(spark.read.parquet(s"$view/delta").count() == 0L,
      "the cadence fold must have fired at 5 accumulated versions")
    intercept[IllegalArgumentException] { // folded history refuses
      LakeView.readViewAt(spark, view, 1L)
    }
    // past the first fold the cadence measures from the real watermark:
    // one more version stays unfolded
    baseDocs.filter($"doc_id" % 10 === 8).limit(3)
      .select($"doc_id", concat($"text", lit(" u5")).as("text"),
        lit(5L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 5L)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, view,
      compactEvery = 5).contains((4L, 5L)))
    assert(spark.read.parquet(s"$view/delta").count() > 0L,
      "one version past a fold must NOT re-fold at compactEvery = 5")
    assert(rows(LakeView.readView(spark, view)) == recompute(corpus))
  }

  private val minMeasures = Seq("min_chars" -> "CAST(length(text) AS BIGINT)")
  private val maxMeasures = Seq("max_chars" -> "CAST(length(text) AS BIGINT)")
  private val avgMeasures = Seq("avg_toks" -> "CAST(size(split(text, ' ')) AS BIGINT)")

  private def rowsMM(df: org.apache.spark.sql.DataFrame) = df
    .select(col("bucket"), col("n_docs"), col("chars"), col("toks"),
      col("min_chars"), col("max_chars"), col("avg_toks"))
    .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Int])

  private def recomputeMM(corpus: String, version: Option[Long] = None) =
    rowsMM(CorpusLake.readCorpusAt(spark, dir, corpus, version)
      .select(expr(dims.head._2).as("bucket"),
        expr(measures(0)._2).as("len"), expr(measures(1)._2).as("tk"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("chars"),
        sum(col("tk")).as("toks"), min(col("len")).as("min_chars"),
        max(col("len")).as("max_chars"),
        (sum(col("tk")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_toks")))

  test("lake view: min/max measures track retractions, survive compaction " +
      "and time travel") {
    val corpus = mkLake()
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-mm").toString + "/view"
    LakeView.createView(spark, dir, v, dims, measures,
      minMeasures, maxMeasures, avgMeasures)
    // per-version consumption with a compaction mid-stream — the fold
    // boundary must be invisible to the extremes exactly as to the sums
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v,
      upTo = Some(0L)).isDefined)
    assert(rowsMM(LakeView.readView(spark, v))
      == recomputeMM(corpus, Some(0L)), "minmax diverged after the update epoch")
    LakeView.compactView(spark, v)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    val truth = recomputeMM(corpus)
    assert(rowsMM(LakeView.readView(spark, v)) == truth,
      "minmax view diverged from the recompute after delete + re-admission")
    // crash replay: lose the cursor, re-consume — (dims, version) dedup
    // must collapse the replayed ext rows too
    val fs = new org.apache.hadoop.fs.Path(s"$v/cursor")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$v/cursor"), true)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    assert(rowsMM(LakeView.readView(spark, v)) == truth,
      "replayed minmax window corrupted the extremes")
    // time travel at the post-fold versions
    for (ver <- Seq(1L, 2L))
      assert(rowsMM(LakeView.readViewAt(spark, v, ver))
        == recomputeMM(corpus, Some(ver)),
        s"minmax time travel diverged at version $ver")
  }

  test("lake view: a delete-storm catch-up — many retraction versions in " +
      "ONE window — serves and time-travels exactly") {
    import spark.implicits._
    // v0 = LWW updates (retract base texts), v1..v3 = three deleteDocs
    // takedown epochs, v4 = re-admission past the first tombstone wave —
    // one BOOTSTRAP refresh consumes all five epochs, so the window
    // carries FOUR retraction versions sharing the single snapshot scan
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-view-storm").toString + "/corpus"
    baseDocs.filter($"doc_id" % 10 === 1)
      .select($"doc_id", concat($"text", lit(" u1")).as("text"),
        lit(0L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 0L)
    for (m <- Seq(2L, 3L, 5L))
      CorpusLake.deleteDocs(spark, corpus,
        baseDocs.filter($"doc_id" % 9 === m).select($"doc_id"))
    baseDocs.filter($"doc_id" % 27 === 2)
      .select($"doc_id", concat($"text", lit(" re")).as("text"),
        lit(4L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 4L)
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-storm-v").toString + "/view"
    LakeView.createView(spark, dir, v, dims, measures,
      minMeasures, maxMeasures, avgMeasures)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v)
      .contains((Long.MinValue, 4L)))
    assert(rowsMM(LakeView.readView(spark, v)) == recomputeMM(corpus),
      "storm catch-up diverged from the head recompute")
    // every intermediate version must time-travel exactly: the merged
    // per-version ext rows (one shared scan + history-derived states)
    // must equal what per-version snapshot scans would have written
    for (ver <- 0L to 4L)
      assert(rowsMM(LakeView.readViewAt(spark, v, ver))
        == recomputeMM(corpus, Some(ver)),
        s"storm time travel diverged at version $ver")
  }

  test("lake view: a NULL dim value is a group of its own — extremes " +
      "seed and recompute null-safely") {
    import spark.implicits._
    // ids ≡0 mod 5 collapse into the NULL group; mkLake's delete epoch
    // (ids ≡2 mod 9) hits some of them (20, 65, …), so the null group
    // takes retractions — the recompute/seed joins must keep it
    val nd = Seq("bucket" ->
      "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE CAST(doc_id % 5 AS INT) END")
    val corpus = mkLake()
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-nulldim").toString + "/view"
    LakeView.createView(spark, dir, v, nd, measures,
      minMeasures, maxMeasures)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    def key(r: org.apache.spark.sql.Row) =
      r.toSeq.map(String.valueOf).mkString("|")
    val got = LakeView.readView(spark, v)
      .select(col("bucket"), col("n_docs"), col("chars"), col("toks"),
        col("min_chars"), col("max_chars"))
      .collect().map(key).toSeq.sorted
    val want = CorpusLake.readCorpusAt(spark, dir, corpus)
      .select(expr(nd.head._2).as("bucket"),
        expr(measures(0)._2).as("len"), expr(measures(1)._2).as("tk"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("chars"),
        sum(col("tk")).as("toks"), min(col("len")).as("min_chars"),
        max(col("len")).as("max_chars"))
      .collect().map(key).toSeq.sorted
    assert(got.exists(_.startsWith("null|")),
      "fixture vacuous: no NULL-dim group served")
    assert(got == want, "null-dim group diverged from the recompute")
  }

  test("lake view: avg measures count only non-null values and an " +
      "all-null group serves null") {
    import spark.implicits._
    val corpus = mkLake()
    // the avg expr is null for every odd doc_id; partitioning on parity
    // makes one group's values ALL null (avg must serve null, not 0)
    // while the even group averages only its non-null values across the
    // full delete lifecycle
    val nullableAvg = Seq("avg_even_len" ->
      "CASE WHEN doc_id % 2 = 0 THEN CAST(length(text) AS BIGINT) ELSE NULL END")
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-avgnull").toString + "/view"
    LakeView.createView(spark, dir, v,
      Seq("par" -> "CAST(doc_id % 2 AS INT)"), measures,
      avgMeasures = nullableAvg)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    val got = LakeView.readView(spark, v)
      .select(col("par"), col("n_docs"), col("avg_even_len"))
      .as[(Int, Long, Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val want = CorpusLake.readCorpusAt(spark, dir, corpus)
      .select(expr("CAST(doc_id % 2 AS INT)").as("par"),
        expr(nullableAvg.head._2).as("x"))
      .groupBy($"par")
      .agg(count(lit(1)).as("n"),
        (sum($"x").cast("double") / count($"x").cast("double")).as("a"))
      .as[(Int, Long, Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(got(1)._2.isEmpty, "all-null group must serve a null avg")
    assert(got == want, s"nullable avg diverged: $got vs $want")
  }

  test("lake view: deleting the doc that attains a group extreme " +
      "re-aggregates to the survivor") {
    import spark.implicits._
    // the vacated-extreme case signed algebra cannot express: find
    // bucket 0's longest doc, delete exactly it, and the served max must
    // drop to the second-longest — not keep serving the vacated value
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-view-vacate").toString + "/corpus"
    val b0 = baseDocs.filter($"doc_id" % 5 === 0)
      .select($"doc_id", length($"text").cast("long").as("len"))
      .orderBy($"len".desc, $"doc_id").as[(Long, Long)].collect()
    val (maxDoc, maxLen) = b0.head
    assert(b0(1)._2 <= maxLen)
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-vacate-v").toString + "/view"
    LakeView.createView(spark, dir, v, dims, measures,
      minMeasures, maxMeasures)
    CorpusLake.deleteDocs(spark, corpus, Seq(maxDoc).toDF("doc_id"))
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    val served = LakeView.readView(spark, v)
      .filter(col("bucket") === 0).select(col("max_chars"))
      .as[Long].head()
    val survivor = baseDocs.filter($"doc_id" % 5 === 0 &&
        $"doc_id" =!= maxDoc)
      .agg(max(length($"text").cast("long"))).as[Long].head()
    assert(served == survivor,
      s"served max $served != survivor max $survivor after deleting " +
        s"the attainer (len $maxLen)")
    // non-vacuous unless the two longest docs tie
    if (survivor < maxLen)
      assert(served < maxLen, "vacated extreme kept serving")
  }

  test("lake view: approx-distinct measures merge on inserts and " +
      "recompute on retractions") {
    import spark.implicits._
    val corpus = mkLake()
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-dist").toString + "/view"
    LakeView.createView(spark, dir, v, dims, measures,
      distinctMeasures = Seq("d_ids" -> "CAST(doc_id AS STRING)"))
    // consume the update epoch, compact, then the delete + re-admission
    // epochs — the delete VACATES distinct ids, which only the
    // retraction-recompute leg can remove from a sketch
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v,
      upTo = Some(0L)).isDefined)
    val pre = LakeView.readView(spark, v)
      .select(col("bucket"), col("d_ids")).as[(Int, Long)].collect().toMap
    LakeView.compactView(spark, v)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    val post = LakeView.readView(spark, v)
      .select(col("bucket"), col("d_ids")).as[(Int, Long)].collect().toMap
    val exact = CorpusLake.readCorpusAt(spark, dir, corpus)
      .select(expr(dims.head._2).as("bucket"),
        expr("CAST(doc_id AS STRING)").as("i"))
      .groupBy($"bucket").agg(countDistinct($"i").as("d"))
      .as[(Int, Long)].collect().toMap
    // at these cardinalities the datasketches HLL is in its exact range,
    // so a stale (non-retracted) sketch shows as a hard mismatch
    exact.foreach { case (b, ex) =>
      assert(math.abs(post(b) - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"bucket $b: estimate ${post(b)} vs exact $ex after the delete")
    }
    // the delete epoch really shrank distinct ids somewhere — the
    // retraction path is exercised, not vacuously green
    assert(exact.exists { case (b, ex) => ex < pre(b) },
      "fixture vacuous: no bucket lost distinct ids across the delete")
  }

  test("lake view: addMeasures evolves a live view mid-lifecycle; " +
      "dropMeasures retires a measure") {
    import spark.implicits._
    val corpus = mkLake()
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-evolve").toString + "/view"
    LakeView.createView(spark, dir, v, dims,
      Seq("chars" -> "CAST(length(text) AS BIGINT)"))
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v,
      upTo = Some(0L)).isDefined)
    LakeView.addMeasures(spark, dir, corpus, v,
      minMeasures = Seq("min_chars" -> "CAST(length(text) AS BIGINT)"),
      avgMeasures = Seq("avg_chars" -> "CAST(length(text) AS BIGINT)"))
    def served(cols: Seq[String]) = LakeView.readView(spark, v)
      .select(cols.map(col): _*)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    def truth(version: Option[Long], cols: Seq[String]) =
      CorpusLake.readCorpusAt(spark, dir, corpus, version)
        .select(expr(dims.head._2).as("bucket"),
          expr("CAST(length(text) AS BIGINT)").as("len"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"len").as("chars"),
          min($"len").as("min_chars"),
          (sum($"len").cast("double") / count(lit(1)).cast("double"))
            .as("avg_chars"))
        .select(cols.map(col): _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    val allCols = Seq("bucket", "n_docs", "chars", "min_chars", "avg_chars")
    // the backfill serves the evolved measures AT THE CURSOR immediately
    assert(served(allCols) == truth(Some(0L), allCols),
      "backfilled measures diverge at the evolution point")
    // the remaining epochs (incl. the delete → recompute leg for the
    // evolved min) maintain the evolved view incrementally
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    assert(served(allCols) == truth(None, allCols),
      "evolved view diverged after post-evolution epochs")
    // refusals: colliding alias; unknown/dim drop
    intercept[IllegalArgumentException] {
      LakeView.addMeasures(spark, dir, corpus, v,
        measures = Seq("chars" -> "CAST(1 AS BIGINT)"))
    }
    intercept[IllegalArgumentException] {
      LakeView.dropMeasures(spark, v, Seq("bucket"))
    }
    // drop: the column leaves the serve at once, the rest is unchanged
    LakeView.dropMeasures(spark, v, Seq("chars"))
    assert(!LakeView.readView(spark, v).columns.contains("chars"))
    val rest = Seq("bucket", "n_docs", "min_chars", "avg_chars")
    assert(served(rest) == truth(None, rest),
      "dropMeasures disturbed the surviving measures")
    // ... and the next compaction physically retires the stale column
    LakeView.compactView(spark, v)
    assert(!spark.read.parquet(s"$v/base").columns.contains("chars"),
      "compaction kept the dropped measure's stale base column")
    assert(served(rest) == truth(None, rest),
      "post-drop compaction changed the serve")
  }

  test("lake view: DESCRIBE surfaces the declaration and the store facts") {
    import spark.implicits._
    val corpus = mkLake()
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-describe").toString + "/view"
    LakeView.createView(spark, dir, v, dims, measures,
      minMeasures, maxMeasures, avgMeasures)
    val desc = LakeView.describeView(spark, v)
      .as[(String, String, String)].collect().toSeq
    assert(desc.map(d => d._1 -> d._2).toMap == Map(
      "bucket" -> "dim", "n_docs" -> "count", "chars" -> "sum",
      "toks" -> "sum", "min_chars" -> "min", "max_chars" -> "max",
      "avg_toks" -> "avg"), s"describe: $desc")
    def stats() = LakeView.viewStats(spark, v)
      .as[(String, Long)].collect().toMap
    assert(stats()("cursor") == Long.MinValue &&
      stats()("delta_rows") == 0L, "fresh view must report an unset cursor")
    LakeView.refreshViewFromLake(spark, dir, corpus, v)
    val s1 = stats()
    assert(s1("cursor") == 2L && s1("delta_rows") > 0L &&
      s1("ext_rows") > 0L, s"post-refresh stats: $s1")
    LakeView.compactView(spark, v)
    val s2 = stats()
    assert(s2("folded_to") == 2L && s2("delta_rows") == 0L &&
      s2("ext_rows") == 0L && s2("base_groups") > 0L,
      s"post-compaction stats: $s2")
  }

  test("lake view: the maintenance stream keeps a declared view live") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    graft.sources.Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-view-stream").toString
    val (idx, corpus, maint, view, viewMM) =
      (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint", s"$tmp/view",
        s"$tmp/view_mm")
    CorpusLake.initCorpus(spark, dir, idx)
    LakeView.createView(spark, dir, view, dims, measures)
    // a second declared view with NON-ADDITIVE measures rides the same
    // stream cadence — the extremes maintenance must work per-batch too
    LakeView.createView(spark, dir, viewMM, dims, measures,
      minMeasures, maxMeasures, avgMeasures)
    // and a third with a quantile sketch + an enrichment dim: the
    // ext-store fold and the metadata join must work per-batch too (the
    // streamed docs are lake-born, so enrichment reads null and the
    // coalesce routes them to 'und')
    val viewQ = s"$tmp/view_q"
    LakeView.createView(spark, dir, viewQ,
      dims = Seq("src" -> "coalesce(lang, 'und')"),
      measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"),
      quantileMeasures = Seq(
        ("p50_chars", "CAST(length(text) AS DOUBLE)", 0.5)),
      baseCols = Seq("lang"))
    val tA = (1 to 40).map(i => s"viewa$i").mkString(" ")
    val tB = (1 to 40).map(i => s"viewb$i").mkString(" ")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint,
        optimizeEvery = 1, viewDirs = Seq(view, viewMM, viewQ))
      .start()
    try {
      in.addData((7000001L, tA)); q.processAllAvailable()
      in.addData((7000002L, tB)); q.processAllAvailable()
    } finally q.stop()
    assert(rows(LakeView.readView(spark, view)) == recompute(corpus),
      "stream-maintained view diverged from the recompute")
    // the optimize firing folded the deltas into the base
    assert(spark.read.parquet(s"$view/delta").count() == 0L,
      "stream cadence did not fold the view's deltas")
    assert(rowsMM(LakeView.readView(spark, viewMM)) == recomputeMM(corpus),
      "stream-maintained minmax view diverged from the recompute")
    val gotQ = LakeView.readView(spark, viewQ)
      .select($"src", $"n_docs", $"chars",
        round($"p50_chars", 6).as("p50_chars"))
      .as[(String, Long, Long, Double)].collect().toSet
    val wantQ = CorpusLake.readCorpusAt(spark, dir, corpus)
      .join(Tables.spread(Tables.documents(spark, dir))
        .select($"doc_id", $"lang"), Seq("doc_id"), "left")
      .select(coalesce($"lang", lit("und")).as("src"),
        length($"text").cast("long").as("len"))
      .groupBy($"src")
      .agg(count(lit(1)).as("n_docs"), sum($"len").as("chars"),
        round(percentile($"len".cast("double"), lit(0.5)), 6)
          .as("p50_chars"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(gotQ == wantQ,
      "stream-maintained quantile+enrichment view diverged from the recompute")
    assert(gotQ.exists(_._1 == "und"),
      "streamed lake-born docs missed the und group")
  }

  test("lake view: viewRefreshEvery batches view maintenance at a " +
      "commit cadence; the late refresh consumes the whole window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    graft.sources.Caches.releaseAll()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-view-cadence").toString
    val (idx, corpus, maint, view) =
      (s"$tmp/idx", s"$tmp/corpus", s"$tmp/maint", s"$tmp/view")
    CorpusLake.initCorpus(spark, dir, idx)
    LakeView.createView(spark, dir, view, dims, measures)
    val tA = (1 to 40).map(i => s"cada$i").mkString(" ")
    val tB = (1 to 40).map(i => s"cadb$i").mkString(" ")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = CorpusLake.maintainCorpusStream(
        in.toDF().toDF("doc_id", "text"), spark, dir, idx, corpus, maint,
        viewDirs = Seq(view), viewRefreshEvery = 2)
      .start()
    try {
      in.addData((7100001L, tA)); q.processAllAvailable()
      // one commit in: the cadence has not fired — the view still serves
      // its pre-stream state (staleness is the knob's documented trade)
      assert(rows(LakeView.readView(spark, view)) != recompute(corpus),
        "viewRefreshEvery=2 refreshed after the first commit")
      in.addData((7100002L, tB)); q.processAllAvailable()
    } finally q.stop()
    // the second commit hits the cadence: ONE refresh consumed BOTH
    // epochs (window splits are delta-identical, so nothing was lost)
    assert(rows(LakeView.readView(spark, view)) == recompute(corpus),
      "the cadence refresh did not catch the view up to the head")
  }

  test("lake view: a view over a branch tracks the branch, not the parent") {
    import spark.implicits._
    val parent = mkLake()
    val branch = parent.stripSuffix("/corpus") + "/exp"
    CorpusLake.createBranch(spark, dir, parent, branch, "exp")
    // branch-local epoch: " b1" updates of ids ≡3 mod 11
    val vB = CorpusLake.nextLakeVersion(spark, branch)
    baseDocs.filter($"doc_id" % 11 === 3)
      .select($"doc_id", concat($"text", lit(" b1")).as("text"),
        lit(vB).as("epoch"))
      .write.mode("append").parquet(s"$branch/docs")
    commitTo(branch, vB)
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-branch").toString + "/view"
    LakeView.createView(spark, dir, v, dims, measures)
    assert(LakeView.refreshViewFromLake(spark, dir, branch, v).isDefined)
    assert(rows(LakeView.readView(spark, v)) == recompute(branch),
      "branch view diverged from the branch recompute")
    assert(rows(LakeView.readView(spark, v)) != recompute(parent),
      "branch view indistinct from the parent — fixture is vacuous")
  }

  test("lake view: a view refreshed from a replication FOLLOWER serves " +
      "the primary's aggregate — the read-scaling topology") {
    import spark.implicits._
    val primary = mkLake()
    val follower = primary.stripSuffix("/corpus") + "/follower"
    assert(CorpusLake.replicateLake(spark, dir, primary, follower).isDefined)
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-follower").toString + "/view"
    // the view consumes the FOLLOWER's commit feed; view refresh is a
    // lake READ, so the follower's read-only guard does not fire
    LakeView.createView(spark, dir, v, dims, measures)
    assert(LakeView.refreshViewFromLake(spark, dir, follower, v).isDefined)
    assert(rows(LakeView.readView(spark, v)) == recompute(primary),
      "follower-fed view diverged from the primary's aggregate")
    // a later primary epoch replicates, the view catches up incrementally
    baseDocs.filter($"doc_id" % 13 === 4)
      .select($"doc_id", concat($"text", lit(" p3")).as("text"),
        lit(3L).as("epoch"))
      .write.mode("append").parquet(s"$primary/docs")
    commitTo(primary, 3L)
    assert(CorpusLake.replicateLake(spark, dir, primary, follower).isDefined)
    assert(LakeView.refreshViewFromLake(spark, dir, follower, v).isDefined)
    assert(rows(LakeView.readView(spark, v)) == recompute(primary),
      "follower-fed view missed the replicated epoch")
  }

  test("lake view: enrichment columns join immutable base metadata into " +
      "dims — retraction, lake-born nulls, and refusals") {
    import spark.implicits._
    val corpus = mkLake()
    // a lake-BORN doc (id the base never saw): its enrichment value is
    // null and the declaration's coalesce routes it to the 'und' group
    baseDocs.limit(1)
      .select(lit(9000001L).as("doc_id"), lit("born in the lake").as("text"),
        lit(3L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 3L)
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-enrich").toString + "/view"
    LakeView.createView(spark, dir, v,
      dims = Seq("lang2" -> "coalesce(lang, 'und')"),
      measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"),
      maxMeasures = Seq("max_chars" -> "CAST(length(text) AS BIGINT)"),
      baseCols = Seq("lang"))
    // split consumption with a compaction mid-stream: the delete epoch
    // retracts docs whose dims come from the enrichment join
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v,
      upTo = Some(0L)).isDefined)
    LakeView.compactView(spark, v)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    def got = LakeView.readView(spark, v)
      .select($"lang2", $"n_docs", $"chars", $"max_chars")
      .as[(String, Long, Long, Long)].collect().toSet
    val want = CorpusLake.readCorpusAt(spark, dir, corpus)
      .select($"doc_id", $"text")
      .join(baseDocs.select($"doc_id").join(
          Tables.spread(Tables.documents(spark, dir))
            .select($"doc_id", $"lang"), Seq("doc_id")),
        Seq("doc_id"), "left")
      .select(coalesce($"lang", lit("und")).as("lang2"),
        length($"text").cast("long").as("len"))
      .groupBy($"lang2")
      .agg(count(lit(1)).as("n_docs"), sum($"len").as("chars"),
        max($"len").as("max_chars"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want, "enriched view diverged from the recompute")
    assert(got.exists(_._1 == "und"), "lake-born doc missed the und group")
    // refusals: unknown / reserved enrichment columns, alias shadowing
    intercept[IllegalArgumentException] {
      LakeView.createView(spark, dir, s"$v-bad1",
        dims = Seq("x" -> "doc_id"), measures = Nil,
        baseCols = Seq("no_such_col"))
    }
    intercept[IllegalArgumentException] {
      LakeView.createView(spark, dir, s"$v-bad2",
        dims = Seq("x" -> "doc_id"), measures = Nil,
        baseCols = Seq("text"))
    }
    intercept[IllegalArgumentException] {
      LakeView.createView(spark, dir, s"$v-bad3",
        dims = Seq("lang" -> "upper(lang)"), measures = Nil,
        baseCols = Seq("lang"))
    }
  }

  // quantile measure fixtures: p50 over plain length; p90 over a length
  // whose deleted band (ids ≡2 mod 9) is shifted +100000 — pre-delete
  // that band is ~11% of every bucket (p90 lands IN it), post-delete
  // only the re-admitted ~4% remains (p90 lands under it), so a sketch
  // that failed to re-sketch on retraction serves a value ~100000 off
  private val quantMeasures = Seq(
    ("p50_chars", "CAST(length(text) AS DOUBLE)", 0.5),
    ("p90_load",
      "CAST(length(text) + CASE WHEN doc_id % 9 = 2 THEN 100000 ELSE 0 END AS DOUBLE)",
      0.9))

  private def rowsQ(df: org.apache.spark.sql.DataFrame) = df
    .select(col("bucket"), col("n_docs"),
      round(col("p50_chars"), 6).as("p50_chars"),
      round(col("p90_load"), 6).as("p90_load"))
    .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Int])

  /** Exact interpolated percentiles over a pinned snapshot — at sf0.001
    * every bucket is under the sketch capacity, so the served estimates
    * must EQUAL these (the sample is the whole multiset). */
  private def recomputeQ(corpus: String, version: Option[Long] = None) =
    rowsQ(CorpusLake.readCorpusAt(spark, dir, corpus, version)
      .select(expr(dims.head._2).as("bucket"),
        expr(quantMeasures(0)._2).as("v50"),
        expr(quantMeasures(1)._2).as("v90"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        percentile(col("v50"), lit(0.5)).as("p50_chars"),
        percentile(col("v90"), lit(0.9)).as("p90_load")))

  test("lake view: quantile measures fold on inserts, re-sketch on " +
      "retractions, and are exact below sketch capacity") {
    val corpus = mkLake()
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-q").toString + "/view"
    LakeView.createView(spark, dir, v, dims, measures,
      quantileMeasures = quantMeasures)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v,
      upTo = Some(0L)).isDefined)
    assert(rowsQ(LakeView.readView(spark, v)) == recomputeQ(corpus, Some(0L)),
      "quantiles diverged after the update epoch")
    LakeView.compactView(spark, v)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    val truth = recomputeQ(corpus)
    assert(rowsQ(LakeView.readView(spark, v)) == truth,
      "quantile view diverged from the recompute after delete + re-admission")
    // the delete is LOAD-BEARING for p90_load: before it, p90 sits in the
    // +100000 band; after, it must drop under it — a stale sketch cannot
    // pass both assertions
    val p90post = LakeView.readView(spark, v)
      .agg(max(col("p90_load"))).head().getDouble(0)
    assert(p90post < 100000.0,
      s"p90_load $p90post still in the deleted band — retraction failed")
    val p90pre = LakeView.readViewAt(spark, v, 0L)
      .agg(min(col("p90_load"))).head().getDouble(0)
    assert(p90pre >= 100000.0,
      s"fixture vacuous: pre-delete p90_load $p90pre not in the band")
    // crash replay: lose the cursor, re-consume — byte-identical sketch
    // rows must collapse in the (dims, version) dedup
    val fs = new org.apache.hadoop.fs.Path(s"$v/cursor")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$v/cursor"), true)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    assert(rowsQ(LakeView.readView(spark, v)) == truth,
      "replayed window corrupted the quantile sketches")
    // evolution: graft a quantile onto a live view, then retire it
    LakeView.addMeasures(spark, dir, corpus, v,
      quantileMeasures = Seq(("p99_chars", "CAST(length(text) AS DOUBLE)", 0.99)))
    val p99 = LakeView.readView(spark, v).select(col("bucket"), col("p99_chars"))
    assert(p99.filter(col("p99_chars").isNull).count() == 0,
      "backfilled quantile served null")
    assert(LakeView.describeView(spark, v)
      .filter(col("column") === "p99_chars")
      .select(col("kind")).head().getString(0) == "quantile(p=0.99)")
    LakeView.dropMeasures(spark, v, Seq("p99_chars"))
    assert(!LakeView.readView(spark, v).columns.contains("p99_chars"),
      "dropped quantile still served")
    assert(rowsQ(LakeView.readView(spark, v)) == truth,
      "evolution round-trip disturbed the surviving quantiles")
  }

  test("lake view: a fresh view bootstrapped over a VACUUMED lake serves " +
      "the head exactly from the surviving history") {
    import spark.implicits._
    // lake: v0 updates, v1 takedowns, v2 more updates; vacuum to v2
    // collapses pre-floor history — a fresh minmax/quantile view must
    // still bootstrap and serve the HEAD exactly (per-version ext rows
    // below the floor are as-of-surviving-history approximations, the
    // documented degraded contract; the head is governed by the final
    // merge, which only needs the head snapshot + surviving states)
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-view-vac").toString + "/corpus"
    baseDocs.filter($"doc_id" % 10 === 1)
      .select($"doc_id", concat($"text", lit(" u1")).as("text"),
        lit(0L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 0L)
    CorpusLake.deleteDocs(spark, corpus,
      baseDocs.filter($"doc_id" % 9 === 2).select($"doc_id"))
    baseDocs.filter($"doc_id" % 8 === 3)
      .select($"doc_id", concat($"text", lit(" u2")).as("text"),
        lit(2L).as("epoch"))
      .write.mode("append").parquet(s"$corpus/docs")
    commitTo(corpus, 2L)
    CorpusLake.vacuumCorpus(spark, corpus, 2L)
    val v = java.nio.file.Files
      .createTempDirectory("graft-view-vac-v").toString + "/view"
    LakeView.createView(spark, dir, v, dims, measures,
      minMeasures, maxMeasures, avgMeasures)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, v)
      .contains((Long.MinValue, 2L)))
    assert(rowsMM(LakeView.readView(spark, v)) == recomputeMM(corpus),
      "vacuum-bootstrapped view diverged from the head recompute")
  }

  test("lake view: refreshViews fans N views out of ONE shared history " +
      "scan and matches solo refreshes exactly") {
    val corpus = mkLake()
    val root = java.nio.file.Files
      .createTempDirectory("graft-view-shared").toString
    def declareSums(p: String): Unit =
      LakeView.createView(spark, dir, p, dims, measures)
    def declareMM(p: String): Unit =
      LakeView.createView(spark, dir, p, dims, Nil,
        minMeasures = minMeasures, maxMeasures = maxMeasures)
    // an ENRICHED view in the same fan-out: the shared history must carry
    // the UNION of every view's enrichment columns
    def declareEnriched(p: String): Unit =
      LakeView.createView(spark, dir, p,
        dims = Seq("vlang" -> "coalesce(lang, 'und')"),
        measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"),
        baseCols = Seq("lang"))
    def rowsOf(p: String, cols: Seq[String]) =
      LakeView.readView(spark, p).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Int])
    val mmCols = Seq("bucket", "n_docs", "min_chars", "max_chars")

    // solo baseline: three views, refreshed independently = three scans
    val s1 = s"$root/solo-sums"; val s2 = s"$root/solo-mm"
    val s4 = s"$root/solo-enriched"
    declareSums(s1); declareMM(s2); declareEnriched(s4)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, s1,
      upTo = Some(0L)).isDefined)
    val soloBefore = LakeView.historyScans.get()
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, s1).isDefined)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, s2).isDefined)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, s4).isDefined)
    assert(LakeView.historyScans.get() - soloBefore == 3,
      "three solo refreshes must build the history thrice (baseline)")

    // shared: same declarations at DIFFERENT cursors (g1 warm at 0, g2/g4
    // bootstrap), one call, ONE history build
    val g1 = s"$root/shared-sums"; val g2 = s"$root/shared-mm"
    val g4 = s"$root/shared-enriched"
    declareSums(g1); declareMM(g2); declareEnriched(g4)
    assert(LakeView.refreshViewFromLake(spark, dir, corpus, g1,
      upTo = Some(0L)).isDefined)
    val sharedBefore = LakeView.historyScans.get()
    assert(LakeView.refreshViews(spark, dir, corpus, Seq(g1, g2, g4))
      .contains(2L))
    assert(LakeView.historyScans.get() - sharedBefore == 1,
      "shared refresh must build the history ONCE, not once per view")

    // the fanned-out windows are indistinguishable from solo refreshes:
    // served state AND the per-version delta stores match
    assert(rowsOf(g1, Seq("bucket", "n_docs", "chars", "toks"))
      == rowsOf(s1, Seq("bucket", "n_docs", "chars", "toks")),
      "shared sums view diverged from its solo twin")
    assert(rowsOf(g2, mmCols) == rowsOf(s2, mmCols),
      "shared min/max view diverged from its solo twin")
    def langRows(p: String) = LakeView.readView(spark, p)
      .select(col("vlang"), col("n_docs"), col("chars"))
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[String])
    assert(langRows(g4) == langRows(s4),
      "shared enriched view diverged from its solo twin")
    def deltaRows(p: String) = spark.read.parquet(s"$p/delta")
      .collect().map(_.toSeq).toSeq
      .sortBy(_.map(v => String.valueOf(v)).mkString("|"))
    assert(deltaRows(g1) == deltaRows(s1),
      "shared delta rows diverged from the solo refresh")

    // at head: a second shared call consumes nothing
    assert(LakeView.refreshViews(spark, dir, corpus, Seq(g1, g2)).isEmpty,
      "refreshViews at head must be a no-op")
    // mixed: a fresh bootstrap view beside one already at head — only
    // the stale view advances, the warm one's stores stay untouched
    val g3 = s"$root/shared-late"
    declareSums(g3)
    val g1Deltas = spark.read.parquet(s"$g1/delta").count()
    assert(LakeView.refreshViews(spark, dir, corpus, Seq(g1, g3))
      .contains(2L))
    assert(spark.read.parquet(s"$g1/delta").count() == g1Deltas,
      "an at-head view must write nothing in a mixed shared refresh")
    assert(rowsOf(g3, Seq("bucket", "n_docs", "chars", "toks"))
      == rowsOf(s1, Seq("bucket", "n_docs", "chars", "toks")),
      "bootstrap-in-shared view diverged")
    intercept[IllegalArgumentException] {
      LakeView.refreshViews(spark, dir, corpus, Seq(g1, g1))
    }
    intercept[IllegalArgumentException] {
      LakeView.refreshViews(spark, dir, corpus, Nil)
    }
  }

  test("lake view: ONE recompute snapshot scan serves every same-cursor " +
      "ext view in a fan-out window — stores byte-identical to solo") {
    val corpus = mkLake()
    val root = java.nio.file.Files
      .createTempDirectory("graft-view-extshare").toString
    def declare3(mm: String, di: String, qu: String): Unit = {
      LakeView.createView(spark, dir, mm, dims, measures,
        minMeasures, maxMeasures)
      LakeView.createView(spark, dir, di, dims, measures,
        distinctMeasures = Seq("d_ids" -> "CAST(doc_id AS STRING)"))
      LakeView.createView(spark, dir, qu, dims, measures,
        quantileMeasures =
          Seq(("p50_chars", "CAST(length(text) AS DOUBLE)", 0.5)))
    }
    // solo baseline: each ext view pays its own snapshot scan
    val sMM = s"$root/solo-mm"; val sDI = s"$root/solo-di"
    val sQU = s"$root/solo-qu"
    declare3(sMM, sDI, sQU)
    val soloBefore = LakeView.extSnapshotScans.get()
    Seq(sMM, sDI, sQU).foreach { v =>
      assert(LakeView.refreshViewFromLake(spark, dir, corpus, v).isDefined)
    }
    assert(LakeView.extSnapshotScans.get() - soloBefore == 3,
      "three solo ext refreshes must scan the snapshot thrice (baseline)")
    // shared fan-out at ONE cursor: one scan for all three ext views
    val gMM = s"$root/shared-mm"; val gDI = s"$root/shared-di"
    val gQU = s"$root/shared-qu"
    declare3(gMM, gDI, gQU)
    val sharedBefore = LakeView.extSnapshotScans.get()
    assert(LakeView.refreshViews(spark, dir, corpus, Seq(gMM, gDI, gQU))
      .contains(2L))
    assert(LakeView.extSnapshotScans.get() - sharedBefore == 1,
      "a same-cursor ext fan-out must scan the snapshot ONCE, not per view")
    // stores identical to the solo twins: delta rows and min/max/quantile
    // ext rows byte-for-byte (QSketch's serialization is canonical —
    // sorted bottom-k — so partitioning cannot change a byte); the HLL
    // ext rows compare by ESTIMATE — DataSketches' serialized form is
    // merge-order-dependent for one and the same coupon set, solo runs
    // already differ from each other at the byte level, and the read
    // side dedups by (dims, version) and serves estimates only
    def storeRows(p: String, store: String,
        proj: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity) =
      proj(spark.read.parquet(s"$p/$store")).collect()
        .map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case x => x
        }).toSeq.sortBy(_.map(v => String.valueOf(v)).mkString("|"))
    for ((g, s) <- Seq((gMM, sMM), (gDI, sDI), (gQU, sQU))) {
      assert(storeRows(g, "delta") == storeRows(s, "delta"),
        s"shared delta rows diverged from the solo refresh ($s)")
    }
    for ((g, s) <- Seq((gMM, sMM), (gQU, sQU))) {
      assert(storeRows(g, "ext") == storeRows(s, "ext"),
        s"shared ext rows diverged from the solo refresh ($s)")
    }
    def hllEst(df: org.apache.spark.sql.DataFrame) = df.select(
      col("bucket"), col("version"),
      when(col("d_ids").isNotNull, hll_sketch_estimate(col("d_ids")))
        .as("d_ids"))
    assert(storeRows(gDI, "ext", hllEst) == storeRows(sDI, "ext", hllEst),
      s"shared distinct ext rows diverged from the solo refresh ($sDI)")
    // and the serve agrees with a head recompute for the minmax view
    val mmCols6 =
      Seq("bucket", "n_docs", "chars", "toks", "min_chars", "max_chars")
    def six(df: org.apache.spark.sql.DataFrame) =
      df.select(mmCols6.map(col): _*).collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Int])
    assert(six(LakeView.readView(spark, gMM))
      == recomputeMM(corpus).map(r => r.take(6)),
      "shared minmax view diverged from the head recompute")
  }

  test("lake view: a failed view fails refreshViews only after every " +
      "other view's refresh has finished") {
    import scala.jdk.CollectionConverters._
    val corpus = mkLake()
    val root = java.nio.file.Files
      .createTempDirectory("graft-view-poison")
    // builds its base (no base doc ends in " re") but fails on the
    // lake's v2 re-admissions, inside its own refresh task
    val poison = s"$root/poison"
    LakeView.createView(spark, dir, poison, dims, Seq("boom" ->
      ("CAST(CASE WHEN text LIKE '% re' THEN raise_error('poisoned view') " +
        "ELSE 0 END AS BIGINT)")))
    val sums = s"$root/sums"; val mm = s"$root/mm"
    LakeView.createView(spark, dir, sums, dims, measures)
    LakeView.createView(spark, dir, mm, dims, measures,
      minMeasures, maxMeasures)
    intercept[Exception] {
      LakeView.refreshViews(spark, dir, corpus, Seq(poison, sums, mm))
    }
    def tree(): Map[String, Long] = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
      finally s.close()
    }
    val atReturn = tree()
    for (v <- Seq(sums, mm))
      assert(spark.read.parquet(s"$v/cursor").agg(max(col("last_version")))
        .head().getLong(0) == 2L, s"$v had not finished when the call failed")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$poison/cursor")),
      "the poisoned view must not advance its cursor")
    Thread.sleep(1500)
    assert(tree() == atReturn, "a refresh task kept writing after the call failed")
  }
}
