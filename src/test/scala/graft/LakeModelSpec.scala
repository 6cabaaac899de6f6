package graft

import graft.operators.CorpusLake
import graft.sources.{Caches, Tables}

/** Model-based lifecycle check for the versioned corpus lake: a seeded
  * random interleaving of the lake's write-side operations — committed
  * appends, manifest-less (in-flight) appends, late commits, byte-identical
  * crash replays, committed deleteDocs tombstone epochs, OPTIMIZE rewrites,
  * manifest checkpoints, vacuums to random valid floors, CDC-follower
  * catch-ups (the replica must keep serving the primary's visible set as
  * of its cursor, or refuse when the cursor fell behind the floor), and
  * branch lifecycles (create at head → branch-local commit + takedown,
  * parent unmoved → merge-wins fold-back → drop) — is
  * applied to BOTH the real lake (through the same primitives the
  * maintenance loop uses) and a trivial in-memory model of the commit
  * protocol. After every operation the head snapshot, random pinned-version
  * snapshots, pre-floor refusals, and the change feed must agree with the
  * model exactly. The point is the INTERLEAVINGS: each protocol rule
  * (manifest-last visibility, LWW, replay collapse, vacuum's in-flight
  * survival + reclaim, OPTIMIZE's logical no-op) is spec-pinned in
  * isolation elsewhere; this pins their composition under orderings nobody
  * thought to write by hand. Docs are modeled as Option[String]: Some is
  * a live row, None a [[CorpusLake.deleteDocs]] tombstone (hides the doc
  * and shadows its base row until a higher epoch re-admits it). */
class LakeModelSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("random append/commit/replay/optimize/vacuum interleavings agree with the model") {
    import spark.implicits._
    Caches.releaseAll()
    val base: Map[Long, String] = Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val baseIds = base.keys.toSeq.sorted
    // the enrichment ground truth: base-table language by id ('und' for
    // lake-born ids, mirroring the view's coalesce)
    val langOf: Map[Long, String] = Tables.documents(spark, dir)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap

    // default 2 seeds keep the suite fast; SPARK_GRAFT_MODEL_SEEDS=a,b,c
    // widens the hunt for one-off robustness sweeps
    val seeds = sys.env.get("SPARK_GRAFT_MODEL_SEEDS")
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(11, 47))
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val corpus = java.nio.file.Files
        .createTempDirectory(s"graft-lake-model-$seed").toString + "/corpus"

      // the model: committed/uncommitted epoch → docs (None = tombstone),
      // plus the floor
      var committed = Map.empty[Long, Map[Long, Option[String]]]
      var uncommitted = Map.empty[Long, Map[Long, Option[String]]]
      var floor = Long.MinValue
      var nextEpoch = 0L
      def head: Long =
        if (committed.isEmpty) Long.MinValue else committed.keys.max
      def modelAt(v: Long): Map[Long, String] = {
        val overlay = committed.toSeq.filter(_._1 <= v).sortBy(_._1)
          .foldLeft(Map.empty[Long, Option[String]])((m, e) => m ++ e._2)
        base.view.filterKeys(!overlay.contains(_)).toMap ++
          overlay.collect { case (k, Some(t)) => k -> t }
      }

      def writeDocs(e: Long, docs: Map[Long, Option[String]]): Unit =
        if (docs.nonEmpty)
          // tombstone rows carry exactly deleteDocs' shape so a replayed
          // delete epoch collapses value-identically on (doc_id, epoch)
          docs.toSeq.map { case (d, t) => (d, t.orNull, e, t.isEmpty) }
            .toDF("doc_id", "text", "epoch", "_deleted").repartition(2)
            .write.mode("append")
            // the live sub-store of the CURRENT generation, as the
            // maintenance loop appends (writers follow the store_head
            // pointer once a versioned rewrite has flipped it)
            .parquet(graft.storage.Artifact.resolve(spark,
              s"$corpus/" + CorpusLake.storeName(spark, corpus, "docs")) + "/live")
      def writeManifest(e: Long): Unit =
        Seq((e, 0L, 0L, 0L, 0L, 0L))
          .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
            "n_contaminated", "n_low_quality")
          .write.mode("append")
          // commits follow the generation pointer once a compactManifest
          // has flipped it, exactly as the real commit writers do
          .parquet(s"$corpus/" + CorpusLake.storeName(spark, corpus, "manifest"))
      // fresh doc ids from a small pool (forces LWW rewrites) plus an
      // occasional BASE id (the base-shadowing case)
      def randomDocs(step: Int): Map[Long, Option[String]] =
        (1 to (1 + rnd.nextInt(3))).map { _ =>
          val id = if (rnd.nextInt(4) == 0) baseIds(rnd.nextInt(baseIds.size))
                   else 5000000L + rnd.nextInt(8)
          id -> Some(s"s$seed step$step doc$id r${rnd.nextInt(1000)}")
        }.toMap

      def checkHead(ctx: String): Unit = {
        val got = CorpusLake.readCorpusAt(spark, dir, corpus, None)
          .as[(Long, String)].collect().toMap
        assert(got == modelAt(Long.MaxValue), s"seed $seed $ctx: head mismatch")
      }

      // a persistent CDC follower: replicaAt = the primary version whose
      // visible set the follower must serve (MinValue = never caught up)
      val replica = corpus.stripSuffix("/corpus") + "/replica"
      var replicaAt = Long.MinValue

      // a persistent declared view WITH non-additive measures: the signed
      // sums AND the extremes maintenance must both survive every
      // interleaving (replays re-derive byte-identical rows, vacuum can
      // strand the cursor → refusal, deletes trigger the recompute leg)
      val viewDir = corpus.stripSuffix("/corpus") + "/view"
      graft.operators.LakeView.createView(spark, dir, viewDir,
        dims = Seq("bucket" -> "CAST(doc_id % 3 AS INT)",
          // enrichment under interleavings: base ids group by their real
          // language, lake-born ids by 'und', through every LWW rewrite,
          // delete, base-shadow, and replay the ops below generate
          "src" -> "coalesce(lang, 'und')"),
        measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"),
        minMeasures = Seq("min_chars" -> "CAST(length(text) AS BIGINT)"),
        maxMeasures = Seq("max_chars" -> "CAST(length(text) AS BIGINT)"),
        quantileMeasures = Seq(
          ("p50_chars", "CAST(length(text) AS DOUBLE)", 0.5)),
        baseCols = Seq("lang"))
      // a SECOND persistent view (sums-only) refreshed in the same
      // refreshViews call as the first: the shared-scan fan-out must
      // serve both views exactly under every interleaving
      val view2Dir = corpus.stripSuffix("/corpus") + "/view2"
      graft.operators.LakeView.createView(spark, dir, view2Dir,
        dims = Seq("bucket" -> "CAST(doc_id % 3 AS INT)"),
        measures = Seq("chars" -> "CAST(length(text) AS BIGINT)"))
      var viewAt = Long.MinValue
      // p=0.5 over integer lengths interpolates to x.0/x.5 — exact in
      // double arithmetic on both sides, so the model compares unrounded
      def median(xs: Seq[Long]): Double = {
        val s = xs.sorted
        val r = 0.5 * (s.length - 1)
        val lo = r.toInt
        s(lo) + (r - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
      }
      def viewModelRows(v: Long)
          : Set[(Option[Int], String, Long, Long, Long, Long, Double)] =
        modelAt(v).toSeq
          .map { case (id, t) =>
            (((id % 3).toInt, langOf.getOrElse(id, "und")), t.length.toLong) }
          .groupBy(_._1).map { case ((b, src), xs) =>
            (Option(b), src, xs.size.toLong, xs.map(_._2).sum,
              xs.map(_._2).min, xs.map(_._2).max, median(xs.map(_._2)))
          }.toSet

      // crash-state injection helpers (ops 20-25): a hard writer death at
      // a protocol step boundary IS a directory state, so the model can
      // throw those states into any interleaving and let every later op
      // and the per-step invariant suite prove them harmless
      def hPath(p: String) = new org.apache.hadoop.fs.Path(p)
      def hFs(p: String) = hPath(p)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def copyTree(src: String, dst: String): Unit = {
        val s = java.nio.file.Paths.get(src)
        java.nio.file.Files.walk(s).forEach { p =>
          val t = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else {
            java.nio.file.Files.createDirectories(t.getParent)
            java.nio.file.Files.copy(p, t, // restore over a fresh dir: the
              // committer marker (_SUCCESS + sidecar) exists on both sides
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }

      for (step <- 1 to 14) {
        val op = rnd.nextInt(26)
        op match {
          case 0 | 1 | 2 | 3 =>
            val e = nextEpoch; nextEpoch += 1
            val docs = randomDocs(step)
            writeDocs(e, docs); writeManifest(e)
            committed += e -> docs
          case 4 => // in-flight: data lands, manifest doesn't (yet)
            val e = nextEpoch; nextEpoch += 1
            val docs = randomDocs(step)
            writeDocs(e, docs)
            uncommitted += e -> docs
          case 5 => // late commit of the oldest pending epoch
            uncommitted.keys.toSeq.sorted.headOption.foreach { e =>
              writeManifest(e)
              committed += e -> uncommitted(e)
              uncommitted -= e
            }
          case 6 => // byte-identical crash replay of a committed epoch
            if (committed.nonEmpty) {
              val e = committed.keys.toSeq.sorted.apply(rnd.nextInt(committed.size))
              writeDocs(e, committed(e))
            }
          case 7 =>
            CorpusLake.optimizeCorpus(spark, corpus,
              targetRowsPerFile = 1L + rnd.nextInt(50))
          case 8 =>
            if (head >= 0) {
              val lo = math.max(floor, 0L)
              val f = lo + rnd.nextInt((head - lo + 1).toInt)
              CorpusLake.vacuumCorpus(spark, corpus, f)
              floor = f
              // vacuum reclaims manifest-less epochs AT or BELOW the
              // committed head (provably dead); in-flight ones above live
              uncommitted = uncommitted.map { case (e, d) =>
                e -> (if (e > head) d else Map.empty[Long, Option[String]])
              }
            }
          case 9 => // history below the floor must refuse loudly
            if (floor > Long.MinValue && floor > 0)
              intercept[IllegalArgumentException] {
                CorpusLake.readCorpusAt(spark, dir, corpus, Some(floor - 1))
              }
          case 10 => // incremental pack of the live window
            CorpusLake.optimizeCorpusIncremental(spark, corpus)
          case 13 => // versioned OPTIMIZE (+ sometimes reclaim): a
            // physical generation flip must be a logical no-op under any
            // interleaving; reclaim drops superseded dirs only
            CorpusLake.optimizeCorpusVersioned(spark, corpus,
              targetRowsPerFile = 1L + rnd.nextInt(50))
            if (rnd.nextBoolean())
              CorpusLake.reclaimStoreGenerations(spark, corpus)
          case 14 => // versioned vacuum: op 8's semantics through the
            // generation flip
            if (head >= 0) {
              val lo = math.max(floor, 0L)
              val f = lo + rnd.nextInt((head - lo + 1).toInt)
              CorpusLake.vacuumCorpus(spark, corpus, f, versioned = true)
              floor = f
              uncommitted = uncommitted.map { case (e, d) =>
                e -> (if (e > head) d else Map.empty[Long, Option[String]])
              }
            }
          case 15 => // manifest checkpoint (+ sometimes reclaim): the
            // commit-history rewrite must be invisible to every read and
            // every later commit under any interleaving
            CorpusLake.compactManifest(spark, corpus)
            if (rnd.nextBoolean())
              CorpusLake.reclaimStoreGenerations(spark, corpus)
          case 11 | 12 => // committed deleteDocs tombstone epoch: victims
            // from the LWW pool and the base table (shadow case); the
            // real API allocates the version — sync the model counter
            val ids = (1 to (1 + rnd.nextInt(2))).map { _ =>
              if (rnd.nextInt(3) == 0) baseIds(rnd.nextInt(baseIds.size))
              else 5000000L + rnd.nextInt(8)
            }.toSet
            val v = CorpusLake.deleteDocs(spark, corpus,
              ids.toSeq.toDF("doc_id"))
            committed += v -> ids.map(_ -> (None: Option[String])).toMap
            nextEpoch = math.max(nextEpoch, v + 1)
          case 16 => // CDC follower catch-up: the replica must serve the
            // primary's visible set AS OF the window head it consumed —
            // unless its cursor fell behind the floor, which must refuse
            if (replicaAt != Long.MinValue && replicaAt < floor)
              intercept[IllegalArgumentException] {
                CorpusLake.replicateLake(spark, dir, corpus, replica)
              }
            else if (CorpusLake.replicateLake(spark, dir, corpus, replica)
                .isDefined)
              replicaAt = head
            // once the cursor exists the follower is read-only: a local
            // write interleaved anywhere must refuse loudly (it would be
            // LWW-stomped by the next window otherwise) and must leave
            // the replica byte-untouched — the per-step replica check
            // below re-verifies it still serves modelAt(replicaAt)
            if (replicaAt != Long.MinValue)
              intercept[IllegalArgumentException] {
                CorpusLake.deleteDocs(spark, replica,
                  Seq(5000000L).toDF("doc_id"))
              }
          case 18 => // declared-view catch-up (sums + extremes), through
            // the SHARED-SCAN path (both persistent views in one
            // refreshViews call): must either refuse (cursor stranded
            // behind the floor) or converge BOTH served views to the
            // model's aggregates at the consumed head — across replays,
            // deletes (the extremes recompute leg), vacuums, and
            // generation flips
            if (viewAt != Long.MinValue && viewAt < floor)
              intercept[IllegalArgumentException] {
                graft.operators.LakeView.refreshViews(
                  spark, dir, corpus, Seq(viewDir, view2Dir))
              }
            else if (graft.operators.LakeView.refreshViews(
                spark, dir, corpus, Seq(viewDir, view2Dir)).isDefined)
              viewAt = head
          case 17 => // branch lifecycle composite: create at head, commit
            // an epoch + a takedown on the branch (parent must not move),
            // merge back (LWW net effect as one parent epoch), drop
            if (head >= 0 && floor <= head) {
              val branch = corpus.stripSuffix("/corpus") + s"/b$step"
              CorpusLake.createBranch(spark, dir, corpus, branch, s"b$step")
              val bdocs = randomDocs(step)
              val vB = CorpusLake.nextLakeVersion(spark, branch)
              bdocs.toSeq.map { case (d, t) => (d, t.orNull, vB) }
                .toDF("doc_id", "text", "epoch")
                .write.mode("append").parquet(s"$branch/docs")
              Seq((vB, 0L, 0L, 0L, 0L, 0L))
                .toDF("version", "n_arrived", "n_admitted", "n_duplicate",
                  "n_contaminated", "n_low_quality")
                .write.mode("append").parquet(s"$branch/manifest")
              val delIds = (1 to (1 + rnd.nextInt(2))).map { _ =>
                if (rnd.nextInt(3) == 0) baseIds(rnd.nextInt(baseIds.size))
                else 5000000L + rnd.nextInt(8)
              }.toSet
              CorpusLake.deleteDocs(spark, branch, delIds.toSeq.toDF("doc_id"))
              // the branch serves head + its overlay; the parent is checked
              // unchanged by the loop's checkHead below
              val bGot = CorpusLake.readCorpusAt(spark, dir, branch, None)
                .as[(Long, String)].collect().toMap
              val overlay = bdocs ++ delIds.map(_ -> (None: Option[String]))
              val bWant = modelAt(Long.MaxValue)
                .view.filterKeys(!overlay.contains(_)).toMap ++
                overlay.collect { case (k, Some(t)) => k -> t }
              assert(bGot == bWant, s"seed $seed step $step: branch mismatch")
              val vM = CorpusLake.mergeBranch(spark, branch)
              committed += vM -> overlay
              nextEpoch = math.max(nextEpoch, vM + 1)
              CorpusLake.dropBranch(spark, branch)
            }
          case 19 => // two-writer race: while one writer holds the lake's
            // lease, a second writer's commit REFUSES (never a
            // double-assigned epoch) and the lake is byte-untouched — the
            // per-step checkHead below re-verifies the model state;
            // release restores writes for every later op
            val owner = s"model-writer-$seed-$step"
            assert(CorpusLake.acquireWriterLease(spark, corpus, owner))
            try intercept[IllegalStateException] {
              CorpusLake.deleteDocs(spark, corpus,
                Seq(5000000L).toDF("doc_id"))
            } finally CorpusLake.releaseWriterLease(spark, corpus, owner)
          case 20 => // death MID-REWRITE: a torn (no _SUCCESS) compacting
            // dir with poisoned content — no reader may ever promote it,
            // and the next optimize/vacuum must overwrite it unbothered
            val cur = CorpusLake.storeName(spark, corpus, "docs")
            Seq((424242L, "POISON", 0L)).toDF("doc_id", "text", "epoch")
              .write.mode("overwrite").parquet(s"$corpus/${cur}_compacting")
            hFs(corpus).delete(
              hPath(s"$corpus/${cur}_compacting/_SUCCESS"), false)
          case 21 => // death BETWEEN a swap's delete and rename: the
            // completed compacting dir IS the store, main is gone — the
            // next toucher must promote. Only reachable once a rewrite
            // has committed the store root (_SUCCESS present); live-only
            // append stores never enter a swap.
            val cur = CorpusLake.storeName(spark, corpus, "docs")
            if (java.nio.file.Files.exists(
                java.nio.file.Paths.get(s"$corpus/$cur/_SUCCESS"))) {
              hFs(corpus).delete(hPath(s"$corpus/${cur}_compacting"), true)
              assert(hFs(corpus).rename(hPath(s"$corpus/$cur"),
                hPath(s"$corpus/${cur}_compacting")),
                s"seed $seed step $step: torn-swap rename failed")
            }
          case 22 => // a hard-killed writer's STRANDED lease, already past
            // its TTL: every later writer op must take it over
            // transparently (never wait it out, never double-write)
            val p = java.nio.file.Paths.get(s"$corpus/_writer_lease")
            if (!java.nio.file.Files.exists(p)) {
              java.nio.file.Files.writeString(p, s"dead-model-writer-$step")
              CorpusLake.backdateWriterLease(spark, corpus,
                ageMs = 16L * 60 * 1000)
            }
          case 24 => // death AFTER a versioned rewrite fully wrote its
            // NEW generation dir, BEFORE the store_head flip: the
            // committed-but-unflipped dir (poisoned to prove it) must
            // never serve, and the next versioned optimize must
            // overwrite it unbothered — the gen-pointer twin of op 20
            val curGen = CorpusLake.storeName(spark, corpus, "docs") match {
              case "docs" => 0L
              case n => n.drop("docs_gen_".length).toLong
            }
            Seq((424242L, "POISON", 0L)).toDF("doc_id", "text", "epoch")
              .write.mode("overwrite")
              .parquet(s"$corpus/docs_gen_${curGen + 1}")
          case 25 => // death BETWEEN the pointer swap's delete and
            // rename: the completed store_head_compacting IS the
            // pointer, main is gone — the next reader must promote it
            // and resolve identically. Only reachable once a versioned
            // rewrite has committed a pointer.
            if (java.nio.file.Files.exists(
                java.nio.file.Paths.get(s"$corpus/store_head/_SUCCESS"))) {
              hFs(corpus).delete(hPath(s"$corpus/store_head_compacting"), true)
              assert(hFs(corpus).rename(hPath(s"$corpus/store_head"),
                hPath(s"$corpus/store_head_compacting")),
                s"seed $seed step $step: torn pointer-swap rename failed")
            }
          case 23 => // death MID-VIEW-FOLD: base swapped, delta/ext not
            // yet truncated — restore the pre-fold stores beside the
            // folded base; the watermark must keep hiding them from every
            // later serve and the next fold must collapse them
            if (viewAt != Long.MinValue) {
              val saved = java.nio.file.Files
                .createTempDirectory(s"model-prefold-$step").toString
              val hasDelta = java.nio.file.Files.exists(
                java.nio.file.Paths.get(s"$viewDir/delta"))
              if (hasDelta) {
                copyTree(s"$viewDir/delta", s"$saved/delta")
                val hasExt = java.nio.file.Files.exists(
                  java.nio.file.Paths.get(s"$viewDir/ext"))
                if (hasExt) copyTree(s"$viewDir/ext", s"$saved/ext")
                graft.operators.LakeView.compactView(spark, viewDir)
                copyTree(s"$saved/delta", s"$viewDir/delta")
                if (hasExt) copyTree(s"$saved/ext", s"$viewDir/ext")
              }
            }
        }
        checkHead(s"step $step (op $op)")
        // the view must keep serving the model aggregate AS OF its
        // cursor, whatever the lake did since (consumed-head semantics,
        // same contract as the follower below)
        if (viewAt != Long.MinValue) {
          val vGot = graft.operators.LakeView.readView(spark, viewDir)
            .select($"bucket", $"src", $"n_docs", $"chars", $"min_chars",
              $"max_chars", $"p50_chars")
            .as[(Option[Int], String, Long, Long, Long, Long, Double)]
            .collect().toSet
          assert(vGot == viewModelRows(viewAt),
            s"seed $seed step $step: view mismatch at $viewAt")
          val v2Got = graft.operators.LakeView.readView(spark, view2Dir)
            .select($"bucket", $"n_docs", $"chars")
            .as[(Option[Int], Long, Long)].collect().toSet
          val v2Want = modelAt(viewAt).toSeq
            .map { case (id, t) => ((id % 3).toInt, t.length.toLong) }
            .groupBy(_._1).map { case (b, xs) =>
              (Option(b), xs.size.toLong, xs.map(_._2).sum) }.toSet
          assert(v2Got == v2Want,
            s"seed $seed step $step: shared view2 mismatch at $viewAt")
        }
        // the follower must keep serving the primary's visible set AS OF
        // its cursor, whatever the primary did since
        if (replicaAt != Long.MinValue) {
          val rGot = CorpusLake.readCorpusAt(spark, dir, replica, None)
            .as[(Long, String)].collect().toMap
          assert(rGot == modelAt(replicaAt),
            s"seed $seed step $step: replica mismatch at $replicaAt")
        }
        // a random committed version at-or-above the floor: time travel
        if (step % 3 == 0) {
          val vs = committed.keys.filter(_ >= floor).toSeq.sorted
          if (vs.nonEmpty) {
            val v = vs(rnd.nextInt(vs.size))
            val got = CorpusLake.readCorpusAt(spark, dir, corpus, Some(v))
              .as[(Long, String)].collect().toMap
            assert(got == modelAt(v), s"seed $seed step $step: at-$v mismatch")
          }
        }
      }

      // change feed vs the model, over a random committed (from, head]
      // window at-or-above the floor
      val froms = committed.keys.filter(_ >= floor).toSeq.sorted
      if (froms.size >= 2) {
        val from = froms(rnd.nextInt(froms.size - 1))
        val got = CorpusLake.readCorpusChanges(spark, dir, corpus, from)
          .select($"doc_id", $"change_type").as[(Long, String)]
          .collect().toSet
        val visibleAtFrom = modelAt(from).keySet
        val want = committed.toSeq.filter(_._1 > from).sortBy(_._1)
          .foldLeft(Map.empty[Long, Option[String]]) { case (m, (_, d)) =>
            m ++ d
          }
          .flatMap { case (id, latest) => latest match {
            // a tombstone rides as a delete only if the consumer ever saw
            // the doc; insert+delete inside one window nets to nothing
            case None => if (visibleAtFrom(id)) Some(id -> "delete") else None
            case Some(_) =>
              Some(id -> (if (visibleAtFrom(id)) "update" else "insert"))
          }}.toSet
        assert(got == want, s"seed $seed: change feed mismatch from $from")
      }
    }
    Caches.releaseAll()
  }
}
