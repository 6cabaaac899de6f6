package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.Vec._
import graft.storage.{Artifact, DeltaStore}

/** Similarity search over the `embeddings` fixture (`vec_id, embedding:
  * array<float>[64], label`): brute-force cosine top-k as the exact baseline,
  * IVF (inverted-file) partitioned top-k as the scale path, and
  * random-hyperplane LSH near-duplicate pairs.
  *
  * Scale design:
  *  - brute force is O(|queries| · |corpus|): the query set is tiny and
  *    explicitly `broadcast()`, so the corpus is scanned once, shuffle-free,
  *    and the only exchange is the final per-query top-k (TakeOrdered-shaped).
  *  - IVF: corpus is assigned once to its nearest centroid (broadcast
  *    centroids, per-row projection); a query probes only the `NProbe`
  *    nearest cells ⇒ the scan shrinks by ~|cells|/NProbe. At 100 TB the
  *    assignment is a write-time partitioning (cluster-by cell_id), making
  *    probes partition-pruned scans.
  *  - LSH near-dup: per-row signature of 4 corpus-size-derived bands
  *    ([[lshBandBits]]; no shuffle), banded self-join with hamming-1
  *    multi-probe moves only bucket collisions, then exact-cosine verify.
  */
object Similarity {

  val Dims = 64
  val TopK = 10
  val QueryStride = 100           // queries = vec_id % 100 == 0
  val NCentroids = 200            // centroids = vec_id % 200 == 0 (⊂ corpus)
  val NProbe = 2
  val LshBands = 4
  val NearDupCosine = 0.4

  /** LSH band width in bits, derived from the corpus size instead of a
    * compile-time constant (round-3 SCALING.md measured the fixed-8-bit
    * scheme's background candidates growing ∝ N²: with random-hyperplane
    * bits near-independent at weak similarity, background C ≈
    * bands · N²/2 · (1+b)/2ᵇ, so 2ᵇ must track N to keep C ~linear).
    * b = ⌈log₂N⌉ − 3 holds expected bucket size ≈ 8, floored at 8 bits —
    * the fixture scales (50/500/2000 vectors) all derive 8, keeping the
    * oracle-pinned recall behavior bit-identical — and capped at 24 so a
    * 4-band signature stays under 64 bits of hyperplane dot products per
    * 10⁹-row corpus. Deriving it costs one metadata-only parquet count. */
  private[graft] def lshBandBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(24, math.max(8, ceilLog2 - 3))
  }

  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.spread(Tables.embeddings(spark, dir))
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
  }

  /** Memoized embeddings row count — every index-build leg sizes its
    * stride from n, and a serving composition ([[hybridRrfAnn]]: probe
    * selection + distance tables + encode cache) used to re-run the count
    * job per leg per invocation. One metadata job per (session, dir).
    *
    * CONTRACT: a fixture dir is immutable within a session. A dir whose
    * contents change mid-session would freeze n (and every stride/index
    * leg derived from it) at its first-read value; the invalidation point
    * is `Caches.releaseAll()` — the same pipeline boundary that drops the
    * index materializations this count sizes, so count and indexes can
    * never disagree. */
  private[graft] def nVecs(spark: SparkSession, dir: String): Long =
    graft.sources.Caches.memoizedCount(spark, s"sim-nvecs|$dir")(
      Tables.embeddings(spark, dir).count())

  /** The stride-seeded IVF assignment table, memoized per (session, dir):
    * [[assignedCells]] eagerly collects the centroid literal (a corpus
    * scan), so even with the materialization itself deduped by
    * `Caches.shared`'s plan equality, every caller used to pay the collect
    * job again. Returning the SAME handle makes the whole build — collect,
    * kernel plan, persist — once-per-session, which is the serving posture
    * ("cluster once, reuse everywhere") the scaladocs promise. Only for
    * the STRIDE seed set; trained cell sets ([[topkIvfRefined]]) build
    * their own assignment. */
  private[graft] def strideAssigned(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Caches.memoized(spark, s"sim-ivf-assigned|$dir") {
      val c = corpus(spark, dir)
      graft.sources.Caches.shared(
        assignedCells(c, centroids(c, ivfCellStride(nVecs(spark, dir)))))
    }

  /** The strided PQ codebook, memoized per (session, dir) — [[pqCodebook]]
    * is an eager bounded collect (≤ 256 entries); serving re-collected it
    * per invocation. */
  private[graft] def stridePqCodebook(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Caches.memoized(spark, s"sim-pq-codebook|$dir")(
      pqCodebook(corpus(spark, dir), pqStride(nVecs(spark, dir))))

  /** The stride-100 query workload every batch `sim_*` operator shares —
    * (query_id, qv, qn). External workloads (an arriving micro-batch) build
    * the same shape and flow through the same `...For` code paths. */
  private[graft] def strideQueries(c: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    c.filter($"vec_id" % QueryStride === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
  }

  /** Exact brute-force cosine top-k: every ~100th vector queries the whole
    * corpus. Output (query_id, neighbor_id, rank, cosine·1e-6-rounded).
    *
    * Memoized per (session, dir): this deliberately-exhaustive scan is the
    * shared ground truth for THREE recall harnesses ([[annRecall]],
    * [[annRecallPq]], [[annRecallPqRefined]]) plus its own `sim_topk_brute`
    * query — without the memo one bench session runs the full corpus×queries
    * scan four times. The result is workload-sized (n_queries × [[TopK]]
    * rows), so pinning it via `Caches.shared` is bounded. */
  def topkBruteForce(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Caches.memoized(spark, s"sim-truth-topk|$dir") {
      import spark.implicits._
      val c = corpus(spark, dir)
      graft.sources.Caches.shared(
        topkBruteForceFor(c, strideQueries(c))
          .orderBy($"query_id", $"rank"))
    }

  /** The dense leg for an EXTERNAL query workload — `queries` is
    * (query_id, qv, qn); the retrieval-serving surface ([[hybridRrfFor]]
    * feeds arriving micro-batches through it). Same broadcast-queries
    * shuffle-free scan; the batch operator's stride workload flows through
    * this SAME code path. */
  private[graft] def topkBruteForceFor(c: DataFrame,
      queries: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    val scored = c.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine6($"qv", $"v", $"qn", $"nrm").as("cosine"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= TopK)
  }

  /** Hard-negative mining for contrastive training: for each anchor (the
    * stride-100 workload), the [[TopK]] highest-cosine vectors with a
    * DIFFERENT label — the near-miss negatives that make embedding training
    * converge (easy random negatives carry no gradient signal). Output
    * (query_id, anchor_label, neighbor_id, neg_label, cosine, rank).
    *
    * Shape: identical to [[topkBruteForceFor]]'s broadcast-anchors
    * shuffle-free corpus scan, plus the label-mismatch predicate pushed
    * into the join condition — candidates with the anchor's label are
    * dropped BEFORE the cosine is computed, not filtered after ranking
    * (ranking-then-filtering would under-fill k). The exact scan is the
    * ground-truth formulation; [[hardNegativesIvf]] is the cell-blocked
    * production variant at 10⁹ vectors. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    rankNegatives(hardNegativeCandidates(spark, dir))

  /** The exact scored (anchor, candidate) rows BEFORE ranking — the scan
    * volume [[graft.ScaleProbe]] tracks (≈ n×|anchors| by construction;
    * [[hardNegativeIvfCandidates]] is the cell-bounded comparison). */
  private[graft] def hardNegativeCandidates(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.spread(Tables.embeddings(spark, dir))
      .select($"vec_id", asDouble($"embedding").as("v"), $"label")
      .withColumn("nrm", norm($"v"))
    val anchors = n.filter($"vec_id" % QueryStride === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"label".as("anchor_label"))
    n.join(broadcast(anchors),
        $"vec_id" =!= $"query_id" && $"label" =!= $"anchor_label")
      .select($"query_id", $"anchor_label", $"vec_id".as("neighbor_id"),
        $"label".as("neg_label"), cosine6($"qv", $"v", $"qn", $"nrm").as("cosine"))
  }

  /** The shared per-anchor top-k ranking of scored negative candidates. */
  private def rankNegatives(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  /** IVF cell-blocked hard-negative mining — the 10⁹-vector production
    * variant of [[hardNegatives]]: each anchor mines only its [[NProbe]]
    * nearest IVF cells (exactly [[topkIvf]]'s probe structure over the
    * shared [[assignedCells]] table), so the per-anchor scan drops from n
    * to n·[[NProbe]]/cells. Hard negatives are by definition NEAR the
    * anchor — the same embedding region its probed cells cover — so
    * within-cell mining loses only the easy (useless-gradient) tail; the
    * recall floor vs the exact scan is pinned in `DedupSpec` and the scan
    * drop measured by [[graft.ScaleProbe]].
    *
    * Scale shape: one label equi-join onto the shared assignment (vec_id
    * co-partitioned; at 100 TB the label rides the cell-clustered corpus
    * table and the join disappears), broadcast anchor-probes joined on the
    * cell id (the [[ivfPqAdcScan]] shape), label-mismatch predicate inside
    * the join — never a post-rank filter. */
  def hardNegativesIvf(spark: SparkSession, dir: String): DataFrame =
    rankNegatives(hardNegativeIvfCandidates(spark, dir))

  /** The cell-bounded scored rows BEFORE ranking ([[graft.ScaleProbe]]'s
    * comparison row against [[hardNegativeCandidates]]). */
  private[graft] def hardNegativeIvfCandidates(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val cents = centroids(c, ivfCellStride(nVecs(spark, dir)))
    val labels = Tables.spread(Tables.embeddings(spark, dir))
      .select($"vec_id", $"label")
    val labeled = strideAssigned(spark, dir)
      .join(labels, "vec_id")
    val anchors = labeled.filter($"vec_id" % QueryStride === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"label".as("anchor_label"))
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"csim".desc, $"cent_id".asc)
    val probes = anchors.join(broadcast(cents), lit(true))
      .select($"query_id", $"qv", $"qn", $"anchor_label", $"cent_id",
        cosine6($"qv", $"cv", $"qn", $"cn").as("csim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= NProbe)
      .select($"query_id", $"qv", $"qn", $"anchor_label", $"cent_id")
    labeled.join(broadcast(probes), "cent_id")
      .filter($"vec_id" =!= $"query_id" && $"label" =!= $"anchor_label")
      .select($"query_id", $"anchor_label", $"vec_id".as("neighbor_id"),
        $"label".as("neg_label"), cosine6($"qv", $"v", $"qn", $"nrm").as("cosine"))
  }

  /** IVF top-k: corpus bucketed by nearest centroid; queries probe the
    * NProbe nearest cells only. Approximate by design (recall < 1 when the
    * true neighbor lives outside probed cells) — the approximation is
    * deterministic and identical in the oracle. */
  /** IVF cell stride: centroids are every `stride`-th vector, so the cell
    * count is n/stride. Classic IVF sizing keeps cells ≈ √n (probe cost and
    * cell size both ≈ √n — the balance point); stride = max(200, ⌊√n⌋)
    * derives that above n ≈ 40 000 while pinning every fixture scale
    * (50/500/2000 vectors) to the oracle's `vec_id % 200 = 0` selection.
    * At 10⁹ vectors: ~31 623 cells, NProbe·√n ≈ 63 k cosines per query
    * instead of 10⁹ — with write-time clustering by cell_id the probes are
    * partition-pruned scans. Same fixture-floored-derivation pattern as
    * [[lshBandBits]] / `Dedup.simhashBandBits`. */
  private[graft] def ivfCellStride(n: Long): Long =
    graft.operators.Dedup.warnIfPastOracleFloor("ivf cell stride",
      math.max(NCentroids.toLong, math.sqrt(n.toDouble).toLong), NCentroids.toLong)

  /** The IVF centroid set: every `stride`-th corpus vector. */
  private[graft] def centroids(c: DataFrame, stride: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    c.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
  }

  /** Nearest-centroid assignment of the whole corpus — (vec_id, v, nrm,
    * cent_id, csim) — as a SHUFFLE-FREE projection through the native
    * [[graft.functions.NearestCentroid]] kernel: the centroid set travels
    * into tasks as driver-collected reference arrays (k ≈ √n by
    * [[ivfCellStride]], the centroid-literal pattern), and each vector's
    * argmax by (round6 cosine desc, cent_id asc) runs as one primitive
    * loop — no ×|centroids| fan-out rows, no aggregation buffers, no
    * exchange (the earlier max_by formulation is kept as
    * [[assignedCellsViaJoin]] and `DedupSpec` pins bit-equality). csim
    * rides along for [[kmeans]]'s inertia accounting. Shared by
    * [[topkIvf]] (probe target) and [[semanticDedup]] (cluster blocking) —
    * the canonical "cluster once, reuse everywhere" structure of an
    * embedding pipeline; NearestCentroid's Seq fields keep the two call
    * sites PLAN-EQUAL so `Caches.shared` dedups them into one
    * materialization. */
  private[graft] def assignedCells(c: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // centroid-literal collect (cent_id-ascending — the kernel's tie order),
    // bounded at k ≈ √n by ivfCellStride; the semanticDedupStream pattern
    val rows = cents.select(col("cent_id"), col("cv"), col("cn"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    c.select(col("vec_id"), col("v"), col("nrm"),
        graft.functions.NearestCentroid(col("v"), col("nrm"),
          rows.map(_._1).toSeq, rows.flatMap(_._2).toSeq,
          rows.map(_._3).toSeq, Dims).as("nc"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("nc.cent_id").as("cent_id"), col("nc.csim").as("csim"))
  }

  /** The assign-via-fanout DataFrame twin (corpus × broadcast centroids,
    * map-side max_by collapse): the formulation [[assignedCells]] replaced
    * with the native [[graft.functions.NearestCentroid]] projection, kept
    * as the semantic reference `DedupSpec` checks the kernel against. */
  private[graft] def assignedCellsViaJoin(c: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    c.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        cosine6(col("v"), col("cv"), col("nrm"), col("cn")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cent_id"), struct(col("csim"), -col("cent_id"))).as("cent_id"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        max(col("csim")).as("csim"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"), col("csim"))
  }

  /** The cluster-assignment surface as its own oracled query: every vector's
    * IVF cell and similarity — the table the "cluster once, reuse
    * everywhere" family ([[topkIvf]], [[semanticDedup]], [[topkIvfPq]],
    * [[kmeans]] round 1) all read. Exists (beyond its standalone use as the
    * partition-layout table a write-time `cluster by cell_id` consumes) to
    * pin the native [[graft.functions.NearestCentroid]] kernel against the
    * DuckDB argmax at EVERY fixture scale, not just through downstream
    * query results. */
  def clusterAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    strideAssigned(spark, dir)
      .select($"vec_id", $"cent_id".as("cell_id"), $"csim")
      .orderBy($"vec_id")
  }

  /** Dense-leg DATA-drift alarm: per-cell population shift of the corpus
    * under the PINNED IVF quantizer, between two snapshot versions (the
    * deterministic %11 churn twins). This completes the drift square —
    * [[CorpusLake.profileDriftTwin]] watches the TEXT distribution,
    * [[indexDriftCheck]] and the lexical advisory watch SERVING quality;
    * this watches the embedding distribution itself: a crawl-source or
    * encoder change moves probability mass between cells long before
    * recall degrades, and a sustained shift is also the signal that the
    * pinned quantizer's cell balance (hence probe cost) is eroding.
    * Shift is each cell's vector-share change in integer ppm (hash-exact
    * for the oracle), flagged past [[CellShiftPpm]]. Cost: ONE
    * assignment scan — each vector is assigned once and carries both
    * versions' membership flags — plus a cells-sized aggregate. */
  def cellDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val cents = centroids(c, ivfCellStride(nVecs(spark, dir)))
    val counts = assignedCells(c, cents)
      .select($"cent_id".as("cell_id"),
        ($"vec_id" % 11 =!= 3).as("m1"), ($"vec_id" % 11 =!= 7).as("m2"))
      .groupBy($"cell_id")
      .agg(sum(when($"m1", 1L).otherwise(0L)).as("n_vecs_v1"),
        sum(when($"m2", 1L).otherwise(0L)).as("n_vecs_v2"))
    val w = Window.partitionBy()
    counts
      .withColumn("shift_ppm",
        round(($"n_vecs_v2" * lit(1e6) / sum($"n_vecs_v2").over(w)) -
          ($"n_vecs_v1" * lit(1e6) / sum($"n_vecs_v1").over(w)))
          .cast("long"))
      .withColumn("shifted", abs($"shift_ppm") > lit(CellShiftPpm))
      .select($"cell_id", $"n_vecs_v1", $"n_vecs_v2", $"shift_ppm", $"shifted")
      .orderBy($"cell_id")
  }

  /** Per-cell vector-share shift (ppm) past which [[cellDrift]] flags:
    * 2% of the corpus moving into or out of one IVF cell. */
  val CellShiftPpm = 20000L

  def topkIvf(spark: SparkSession, dir: String): DataFrame =
    topkIvfWith(spark, dir, NProbe)

  /** [[topkIvf]] at an explicit probe depth — the recall/cost knob every
    * IVF deployment tunes; `DedupSpec` sweeps it against exact truth and
    * SCALING.md records the measured frontier (the oracled query pins
    * [[NProbe]] = 2). */
  private[graft] def topkIvfWith(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val c = corpus(spark, dir)
    val cents = centroids(c, ivfCellStride(nVecs(spark, dir)))
    topkIvfFor(c, cents, strideQueries(c), nprobe,
      Some(strideAssigned(spark, dir)))
  }

  /** [[topkIvf]] over Lloyd-REFINED cells: the IVF centroid set trained by
    * [[kmeansRounds]] from the strided seeds — the production cell set
    * above the [[ivfCellStride]] knee, mirroring [[topkPqRefined]] (seeds
    * stay the oracled behavior below the knee; trained cells sit at true
    * density modes, so a fixed probe budget covers more of each query's
    * neighborhood). Measured at the sparse probe points on a planted-
    * cluster fixture: recall@10 at NProbe=2 rises 0.951→1.000 (20k) and
    * 0.926→0.983 (40k) — `DedupSpec` pins the floor; SCALING.md has the
    * rows. HONEST boundary: the gain comes from the corpus having cluster
    * structure (real embedding corpora do — that is why FAISS trains its
    * coarse quantizer); on structureless iid vectors Lloyd has nothing to
    * learn and measured recall-per-probe does not improve (−0.027 on the
    * iid 20k fixture). Scale shape per training round is [[kmeans]]'s
    * (broadcast centroids, (cluster, dim)-keyed partial aggregation —
    * shuffles move k·dims doubles, never vectors); serving cost is
    * unchanged from [[topkIvf]]. */
  def topkIvfRefined(spark: SparkSession, dir: String,
      nprobe: Int = NProbe, iters: Int = KmeansMaxIters): DataFrame = {
    val c = corpus(spark, dir)
    val seeds = centroids(c, ivfCellStride(nVecs(spark, dir)))
    val (cents, _, _) = kmeansRounds(c, seeds, KmeansEps, iters)
    topkIvfFor(c, cents, strideQueries(c), nprobe)
  }

  /** The IVF probe/scan core for an arbitrary (cent_id, cv, cn) cell set
    * and (query_id, qv, qn) workload — shared by the strided-seed surface
    * ([[topkIvfWith]]) and the Lloyd-refined one ([[topkIvfRefined]]). */
  private[graft] def topkIvfFor(c: DataFrame, cents: DataFrame,
      q: DataFrame, nprobe: Int,
      prebuiltAssigned: Option[DataFrame] = None): DataFrame = {
    import c.sparkSession.implicits._
    // shared-cached: semanticDedup assigns over the identical plan; the
    // stride callers pass the memoized [[strideAssigned]] handle so the
    // centroid-literal collect doesn't re-run per invocation
    val assigned = prebuiltAssigned.getOrElse(
      graft.sources.Caches.shared(assignedCells(c, cents)))
    // queries probe their nprobe nearest cells
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"csim".desc, $"cent_id".asc)
    val probes = q.join(broadcast(cents), lit(true))
      .select($"query_id", $"qv", $"qn", $"cent_id",
        cosine6($"qv", $"cv", $"qn", $"cn").as("csim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= nprobe)
      .select($"query_id", $"qv", $"qn", $"cent_id")
    val scored = probes.join(assigned, "cent_id")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosine6($"qv", $"v", $"qn", $"nrm").as("cosine"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  /** ANN index quality evaluation: recall@[[TopK]] of the IVF index
    * ([[topkIvf]], NProbe cells) against the exact brute-force ground truth
    * ([[topkBruteForce]]) — per query (query_id, n_hits, recall), the
    * measurement every index deployment runs before trusting the
    * approximate path. recall = |IVF∩truth| / k, 6dp (exact small-int
    * division — engine-stable).
    *
    * Scale shape: the two legs keep their own (already bounded) plans and
    * the comparison adds only workload-sized work — a semi join of two
    * ≤ k-per-query lists and a per-query count. At 10⁹ vectors the ground
    * truth leg is the expensive one; production evaluates on a sampled
    * query set (this operator's stride workload IS that sample) and the
    * truth scan amortizes across NProbe/recall sweeps. */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    annRecallOf(topkBruteForce(spark, dir), topkIvf(spark, dir))

  /** recall@[[TopK]] of the FULL IVFADC serving leg ([[topkIvfPq]]) vs the
    * exact ground truth — the recall number the production index actually
    * ships with (IVF cell loss AND PQ shortlist loss compounded; the
    * IVF-only twin [[annRecall]] isolates the cell term). Same
    * workload-sized comparison shape. */
  def annRecallPq(spark: SparkSession, dir: String): DataFrame =
    annRecallOf(topkBruteForce(spark, dir), topkIvfPq(spark, dir))

  /** Lloyd rounds the oracled refined-recall harness runs: FIXED 2 rounds,
    * no convergence early-exit, so the DuckDB twin can unroll the identical
    * training closed-form. Production [[topkPqRefined]] keeps the adaptive
    * [[KmeansEps]] stop over [[PqRefineIters]] rounds. */
  val PqRefineOracleIters = 2

  /** recall@[[TopK]] of the SEEDED ([[topkPq]]) and k-means-REFINED
    * ([[pqRefineCodebook]]) PQ serving legs against the exact ground truth,
    * side by side per query — the oracled pin of the codebook-training
    * claim: the refinement chain (encode → per-(entry, subspace, dim) mean
    * → re-encode) runs end-to-end in BOTH engines, so the trained codebook
    * itself is hash-checked, not just spec-floored. Fixed
    * [[PqRefineOracleIters]] Lloyd rounds (see there); the ≥-seeded
    * improvement floor above the stride knee stays pinned in `DedupSpec`
    * at the sparse probe point, where refinement has room to move.
    *
    * Scale shape: the three legs keep their own bounded plans (brute truth
    * is the deliberate ground-truth scan, the two PQ legs are broadcast-
    * table ADC scans); refinement adds [[PqRefineOracleIters]] posexploded
    * partial aggregations bounded by 256×64 doubles of partials per map
    * task; the comparison itself is workload-sized ([[annRecallOf]] ×2). */
  def annRecallPqRefined(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val truth = topkBruteForce(spark, dir)
    // the seeded leg IS `sim_topk_pq`'s ranked list (same corpus, same
    // stride workload, same strided codebook) — read the memoized handle
    // instead of re-running the full ADC scan + rerank
    val seeded = annRecallOf(truth, topkPq(spark, dir))
      .select($"query_id", $"n_hits".as("hits_seeded"),
        $"recall".as("recall_seeded"))
    val refined = annRecallOf(truth, refinedTopk(spark, dir))
      .select($"query_id", $"n_hits".as("hits_refined"),
        $"recall".as("recall_refined"))
    seeded.join(refined, "query_id").orderBy($"query_id")
  }

  /** The oracle-rounds refined-codebook ranked list, memoized like
    * `sim-pq-topk`: its inputs (the refined codebook — a pure function of
    * the pinned seeds and the fixed [[PqRefineOracleIters]] Lloyd rounds —
    * and the encoded corpus) are memo-stable within a session, yet the
    * 2-round training collect + full ADC scan + rerank used to re-run per
    * invocation — the entire steady tail of `sim_ann_recall_pq_refined`.
    * `MemoParitySpec` pins memo-vs-fresh equality. */
  private[graft] def refinedTopk(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Caches.memoized(spark, s"sim-pq-refined-topk|$dir") {
      val c = corpus(spark, dir)
      val q = strideQueries(c)
      val (cb1, _) = pqRefineCodebook(c, stridePqCodebook(spark, dir),
        PqRefineOracleIters, earlyStop = false)
      graft.sources.Caches.shared(pqRerank(c, q, pqAdcScanFor(c, q, cb1)))
    }

  /** The shared recall comparison: per query, |approx ∩ truth| / k over
    * two ≤ k-per-query lists — every post-leg operator is workload-sized. */
  private def annRecallOf(truthLeg: DataFrame, approxLeg: DataFrame): DataFrame = {
    import truthLeg.sparkSession.implicits._
    val truth = truthLeg.select($"query_id", $"neighbor_id")
    val approx = approxLeg.select($"query_id", $"neighbor_id")
    val hitCounts = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    truth.select($"query_id").distinct()
      .join(hitCounts, Seq("query_id"), "left")
      .select($"query_id",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        round(coalesce($"n_hits", lit(0L)) / lit(TopK.toDouble), 6).as("recall"))
      .orderBy($"query_id")
  }

  /** Cosine threshold for [[semanticDedup]] — pinned to the fixture's
    * planted near-dup range (production SemDeDup on real text embeddings
    * runs ≥ 0.95; the knob is a literal in both engines). */
  val SemDedupCosine = NearDupCosine

  /** Cell-size cap above which [[semanticCandidates]] splits a cell into
    * salted sub-blocks. A within-cell self-join concentrates Σ|cell|² work
    * on |cell| shuffle keys — one skewed mega-cell (a dense embedding
    * region: boilerplate pages, deduplicated-to-death templates) pins a
    * whole partition. Above the cap a cell of size s becomes g = ⌈s/cap⌉
    * blocks and the pairing runs per ORDERED BLOCK PAIR (p ≤ q), so the
    * largest single task is ~cap² pairs no matter how skewed the cell.
    * 4096² ≈ 16.8 M cosines per task ≈ seconds of one core; every fixture
    * cell is far below the cap, so the shipped scales run g = 1 — the
    * plain within-cell join, bit-identical plan semantics. */
  val SemCellCap = 4096

  /** Within-cell scored pairs BEFORE the cosine threshold — the candidate
    * volume [[graft.ScaleProbe]] tracks (Σ|cell|² over cells; bounded
    * ≈ n^1.5 by the derived stride).
    *
    * Pairing is closed under the salted sub-cell split: a cell of size s
    * splits into g = ⌈s/[[SemCellCap]]⌉ blocks (blk = hash(vec_id) mod g), the
    * a-side replicates each row to block pairs (p = blk, q ∈ blk..g−1) and
    * the b-side to (p ∈ 0..blk, q = blk), so every unordered pair {i, j}
    * meets in EXACTLY the task (min(blkᵢ,blkⱼ), max(blkᵢ,blkⱼ)) — once
    * across blocks (p < q, ids normalized after), once within a block
    * (p = q, id_a < id_b) — and the join keys (cent_id, p, q) spread a
    * mega-cell's quadratic work over g(g+1)/2 shuffle keys at the price of
    * (g+1)× replication of that cell's rows (linear; the pairing is
    * quadratic). g = 1 degenerates to the plain join: identical output by
    * construction, which is why the oracle keeps the unsalted formulation.
    * `forceCellCap` exists for the spec/ScaleProbe A/B only. */
  private[graft] def semanticCandidates(spark: SparkSession, dir: String,
      forceCellCap: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val cap = forceCellCap.getOrElse(SemCellCap)
    val assigned = strideAssigned(spark, dir)
    val sizes = assigned.groupBy($"cent_id").agg(count(lit(1)).as("cell_n"))
    // block key hashes the id (Murmur3) rather than vec_id mod g: cell
    // membership is cosine-determined, so raw ids alias badly mod small g;
    // the salt never reaches the output, so it needs no oracle mirror
    val blocks = assigned.join(broadcast(sizes), "cent_id")
      .withColumn("g", ceil($"cell_n".cast("double") / cap).cast("int"))
      .withColumn("blk", pmod(hash($"vec_id"), $"g").cast("int"))
    val a = blocks.select($"cent_id", $"vec_id".as("id_a"),
        $"v".as("va"), $"nrm".as("na"), $"blk".as("pa"),
        explode(sequence($"blk", $"g" - 1)).as("qa"))
    val b = blocks.select($"cent_id".as("cent_b"), $"vec_id".as("id_b"),
        $"v".as("vb"), $"nrm".as("nb"),
        explode(sequence(lit(0), $"blk")).as("pb"), $"blk".as("qb"))
    a.join(b,
        $"cent_id" === $"cent_b" && $"pa" === $"pb" && $"qa" === $"qb" &&
          ($"pa" < $"qa" || $"id_a" < $"id_b"))
      .withColumn("cosine", cosine6($"va", $"vb", $"na", $"nb"))
      // cosine is symmetric; normalize cross-block pairs to id_a < id_b
      .select($"cent_id", $"pa", $"qa",
        least($"id_a", $"id_b").as("id_a"),
        greatest($"id_a", $"id_b").as("id_b"),
        $"cosine")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    * corpus by nearest IVF centroid, compare pairs ONLY within a cluster,
    * and drop every vector that has a sufficiently-cosine-similar
    * lower-id keeper in its cell. Output: one row per DROPPED vector —
    * (vec_id, keeper_id = min qualifying lower id, cell_id, cosine to that
    * keeper, 6 dp).
    *
    * Scale design: the clustering reuses [[assignedCells]] (one broadcast
    * fan-out + one |corpus|-row shuffle — shared plan, shared cache with
    * [[topkIvf]]); the pair search is an equi-join on cent_id, so candidate
    * volume is Σ|cell|² with |cell| ≈ √n by [[ivfCellStride]] — n^1.5
    * total comparisons instead of n², and each cell's pairing is one
    * shuffle partition's local work (the exact cost shape of published
    * SemDeDup). The keeper reduction is a partial-aggregatable min/min_by
    * per dropped id. A skewed mega-cell no longer concentrates one
    * partition: cells above [[SemCellCap]] split into salted sub-blocks
    * whose pairing is provably closed (see [[semanticCandidates]]), so the
    * largest task is ~cap² pairs at any skew. min(cent_id) — not first —
    * keeps the cell_id reduction deterministic by construction (each id_b
    * has exactly one cell, but the aggregate shouldn't rely on it). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupImpl(spark, dir, None)

  /** `forceCellCap` threads the spec's A/B knob through the reduction. */
  private[graft] def semanticDedupImpl(spark: SparkSession, dir: String,
      forceCellCap: Option[Int]): DataFrame = {
    import spark.implicits._
    semanticCandidates(spark, dir, forceCellCap)
      .filter($"cosine" >= SemDedupCosine)
      .groupBy($"id_b")
      .agg(min($"id_a").as("keeper_id"),
        min_by($"cosine", $"id_a").as("cosine"),
        min($"cent_id").as("cell_id"))
      .select($"id_b".as("vec_id"), $"keeper_id", $"cell_id", $"cosine")
      .orderBy($"vec_id")
  }

  /** The static sides for [[semanticDedupStream]]: the IVF centroids pulled
    * to the driver (bounded: n/stride ≈ √n rows by [[ivfCellStride]] — the
    * langid-profile collect pattern; at 10⁹ vectors ~31k × 64 doubles
    * ≈ 16 MB, the same payload the assignment broadcast already carries)
    * and the corpus cell table (cell_id, corpus_id, cv, cn) — the
    * [[assignedCells]] output an ingest pipeline would maintain as a
    * cell-clustered table. */
  def semanticStatics(spark: SparkSession, dir: String)
      : (Seq[(Long, Seq[Double], Double)], DataFrame) = {
    import spark.implicits._
    val stride = ivfCellStride(nVecs(spark, dir))
    val c = corpus(spark, dir)
    val cents = centroids(c, stride)
      .select($"cent_id", $"cv", $"cn")
      .as[(Long, Seq[Double], Double)].collect().toSeq.sortBy(_._1)
    val cells = assignedCells(c, centroids(c, stride))
      .select($"cent_id".as("cell_id"), $"vec_id".as("corpus_id"),
        $"v".as("cv"), $"nrm".as("cn"))
    (cents, cells)
  }

  /** Streaming twin of [[semanticDedup]] — the ingest-hygiene shape for
    * embeddings (the one family member minhash/span/bloom already had):
    * each arriving (vec_id, embedding) row is assigned to its nearest IVF
    * centroid PER ROW (a stateless argmax expression over the driver-held
    * centroid literals — bit-identical tie-break to [[assignedCells]]'s
    * max_by: max cosine6, ties to the lower cent_id), stream-static joined
    * against ONLY its cell's slice of the corpus table, and flagged when an
    * exact cosine clears [[SemDedupCosine]]. The corpus vector is the
    * keeper BY DEFINITION (it precedes anything arriving — the
    * [[graft.operators.Dedup.spanDedupStream]] convention), so the
    * update-mode reduction keeps the minimum qualifying corpus_id; state is
    * keyed by vec_id and bounded because a vector arrives in one batch.
    *
    * Scale posture: the demo broadcasts the cell table; at corpus scale the
    * same plan is a stream-static SHUFFLE join on cell_id against a
    * cell-clustered corpus table (partition-pruned to probed cells), with
    * only the arriving batch's vectors moving. */
  /** Sample budget denominator for [[balancedSample]]: keep n/4 vectors. */
  val BalancedSampleDen = 4L

  /** Cell-balanced diversity subsample — the cluster-coverage selection of
    * data-pruning pipelines (each embedding cell contributes at most a
    * quota, so dense regions — boilerplate, templated text — cannot
    * dominate the sample the way they would under uniform sampling; the
    * complement of [[semanticDedup]], which removes near-duplicates
    * WITHIN cells, this flattens mass ACROSS cells). Quota = ⌈budget /
    * |cells|⌉ with budget = n/[[BalancedSampleDen]]; within a cell,
    * selection order is the deterministic content-hash position (the
    * [[Sampling.mixture]] convention — engine/rerun/cluster invariant),
    * vec_id tie-broken. Scale shape: the shared cell assignment (one
    * corpus shuffle, reused by IVF/SemDeDup/k-means) plus ONE window over
    * cells — each cell sorts locally; a mega-cell's sort is |cell| log
    * |cell| on one partition, the documented salting escape hatch of
    * [[semanticCandidates]] applies identically. Emits every vector with
    * its position and `selected` flag. */
  def balancedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = nVecs(spark, dir)
    val c = corpus(spark, dir)
    val cents = centroids(c, ivfCellStride(n))
    val assigned = strideAssigned(spark, dir)
    val nCells = graft.sources.Caches.memoizedCount(spark,
      s"sim-ncells|$dir")(cents.count())
    val quota = (n / BalancedSampleDen + nCells - 1) / nCells
    val w = Window.partitionBy($"cent_id")
      .orderBy($"h".asc, $"vec_id".asc)
    assigned.select($"vec_id", $"cent_id")
      .withColumn("h", pmod(graft.functions.Text.hash60(
        concat(lit("div|"), $"vec_id".cast("string"))), lit(Sampling.MixtureScale)))
      .withColumn("pos", row_number().over(w))
      .select($"vec_id", $"cent_id".as("cell_id"), $"pos",
        ($"pos" <= quota).as("selected"))
      .orderBy($"vec_id")
  }

  def semanticDedupStream(vecStream: DataFrame,
      cents: Seq[(Long, Seq[Double], Double)], corpusCells: DataFrame): DataFrame = {
    require(cents.nonEmpty, "semanticDedupStream needs at least one centroid")
    // the same native argmax kernel the batch assignment uses (until late
    // r8 this was a k-wide array-of-structs expression tree — fine at 141
    // cells, pathological codegen at the 31k cells a 10⁹-vector corpus
    // derives; the kernel is O(k) per row with a fixed-size plan)
    val sorted = cents.sortBy(_._1)
    vecStream
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("cell_id", graft.functions.NearestCentroid(
        col("v"), col("nrm"), sorted.map(_._1), sorted.flatMap(_._2),
        sorted.map(_._3), Dims).getField("cent_id"))
      .join(broadcast(corpusCells), Seq("cell_id"))
      .filter(col("vec_id") =!= col("corpus_id"))
      .withColumn("cosine", cosine6(col("v"), col("cv"), col("nrm"), col("cn")))
      .filter(col("cosine") >= SemDedupCosine)
      .groupBy(col("vec_id"))
      .agg(min(col("corpus_id")).as("keeper_id"),
        min_by(col("cosine"), col("corpus_id")).as("cosine"),
        min(col("cell_id")).as("cell_id"))
  }

  /** Convergence threshold for [[kmeansLoop]]: a round whose maximum
    * per-component centroid movement is ≤ ε (in 6dp-pinned coordinates)
    * stops the loop — textbook Lloyd's stop condition, meaningful because
    * the means are re-pinned to 6 dp each round (a shift below 5·10⁻⁷
    * literally cannot be represented, so ε = 10⁻⁴ is ~200 pinning units). */
  val KmeansEps = 1e-4

  /** The DEMO iteration bound: the DuckDB oracle unrolls exactly 2 Lloyd
    * rounds, so the oracled query pins maxIters = 2 (the fixture does NOT
    * converge earlier — round 2's measured shift is ≫ ε — so the stop
    * condition never fires inside the oracle regime; `DedupSpec` drives
    * [[kmeansLoop]] to ACTUAL convergence on a planted fixture).
    * Production raises this bound and lets ε govern. */
  val KmeansMaxIters = 2

  /** Distributed k-means (Lloyd) over the embedding corpus — the clustering
    * primitive the IVF index and [[semanticDedup]] presuppose (their
    * centroid SEEDS are every `stride`-th vector; this operator runs the
    * refinement those seeds would get in production). Assignment→mean
    * rounds until the centroid shift drops to [[KmeansEps]] or
    * [[KmeansMaxIters]] caps the loop, each round: (1) nearest-centroid
    * assignment by cosine ([[assignedCells]] — broadcast centroids,
    * map-side max_by collapse, one |corpus|-row shuffle); (2) dim-wise
    * arithmetic mean per cluster, ROUNDED 6 dp before reuse so both
    * engines iterate from bit-identical centroids (double summation order
    * across partitions is the one nondeterminism; rounding re-pins it each
    * round, the [[labelCentroids]] convention). Output per surviving
    * cluster: (cluster_id = seeding centroid's vec_id, n_members, centroid
    * sum / sum-of-squares checksums over the rounded means — 64 dims
    * pinned in two columns, the [[quantizeInt8]] convention — plus the
    * cluster's assignment inertia Σ(1 − csim), 6 dp, oracle-checked).
    *
    * Scale shape per iteration: centroid fan-out is broadcast (k ≈ √n by
    * [[ivfCellStride]]), the mean is a (cluster, dim)-keyed partial
    * aggregation — shuffles move k·dims doubles, never vectors; the
    * per-round shift/inertia checks are one tiny k-row join and one
    * partial-aggregated scalar over the cached assignment; iterations are
    * a driver-side loop over fully-distributed rounds (no data through the
    * driver), with the k×dims means localCheckpointed per round so lineage
    * stays O(1) in the iteration count. Empty clusters drop out, exactly
    * as in textbook Lloyd. */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    // memoized like the index builds ([[topkIvfPq]]'s lists): the trained
    // cluster table is a k-row ARTIFACT of the (session, corpus) pair —
    // production trains once and serves assignments from the result; the
    // driver-side Lloyd loop re-ran per invocation only because its
    // localCheckpoint lineage defeats `Caches.shared`'s plan equality.
    graft.sources.Caches.memoized(spark, s"sim-kmeans|$dir") {
      import spark.implicits._
      val stride = ivfCellStride(nVecs(spark, dir))
      val c = graft.sources.Caches.shared(corpus(spark, dir))
      graft.sources.Caches.shared(
        kmeansLoop(c, centroids(c, stride), KmeansEps, KmeansMaxIters)._1)
    }

  /** The production k-means surface: seeds in, (result, per-round
    * (max centroid shift, assignment inertia)) out. The loop stops when a
    * round's max per-component shift is ≤ `eps` or after `maxIters`
    * rounds, whichever is first; per-round inertia makes the convergence
    * trajectory observable (it is non-increasing on a well-posed run). */
  private[graft] def kmeansLoop(c: DataFrame, seeds: DataFrame,
      eps: Double, maxIters: Int): (DataFrame, List[(Double, Double)]) = {
    val spark = c.sparkSession
    import spark.implicits._
    val (cents, assigned, rounds) = kmeansRounds(c, seeds, eps, maxIters)
    val counts = assigned.groupBy($"cent_id")
      .agg(count(lit(1)).as("n_members"),
        round(sum(lit(1.0) - $"csim"), 6).as("inertia"))
    val out = counts.join(cents, "cent_id")
      .select($"cent_id".as("cluster_id"), $"n_members",
        round(aggregate($"cv", lit(0.0), (a, x) => a + x), 6).as("csum"),
        round(aggregate($"cv", lit(0.0), (a, x) => a + x * x), 6).as("csumsq"),
        $"inertia")
      .orderBy($"cluster_id")
    (out, rounds)
  }

  /** The Lloyd round core [[kmeansLoop]] wraps: (final centroids as a
    * (cent_id, cv, cn) frame, final cached assignment, per-round
    * (shift, inertia)). Exposed separately so the refined CELLS themselves
    * are reusable as an IVF centroid set ([[topkIvfRefined]]) — the same
    * seeds-in/trained-table-out seam [[pqRefineCodebook]] gives PQ. */
  private[graft] def kmeansRounds(c: DataFrame, seeds: DataFrame,
      eps: Double, maxIters: Int): (DataFrame, DataFrame, List[(Double, Double)]) = {
    val spark = c.sparkSession
    import spark.implicits._
    var cents = seeds
    var assigned: DataFrame = null
    var rounds = List.empty[(Double, Double)]
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      assigned = graft.sources.Caches.shared(assignedCells(c, cents))
      val means = assigned
        .select($"cent_id", posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"cent_id", $"dim").agg(round(avg($"x"), 6).as("m"))
        .groupBy($"cent_id")
        .agg(transform(sort_array(collect_list(struct($"dim", $"m"))),
          s => s.getField("m")).as("cv"))
        .select($"cent_id", $"cv", norm($"cv").as("cn"))
        .localCheckpoint() // this job also fills the assigned cache
      // max per-component movement vs the previous round's centroids —
      // a k-row join of two 6dp-pinned tiny tables. A dropped (emptied)
      // cluster contributes no row; the survivors' movement is the Lloyd
      // stop quantity. Collected TOGETHER with the round's inertia (a
      // scalar over the cached assignment) as one 1-row cross of two
      // 1-row aggregates — one Spark action per round, not two.
      val (shift, inertia) = means.select($"cent_id", $"cv")
        .join(cents.select($"cent_id", $"cv".as("pv")), "cent_id")
        .agg(max(array_max(zip_with($"cv", $"pv", (a, b) => abs(a - b)))))
        .crossJoin(assigned.agg(round(sum(lit(1.0) - $"csim"), 6)))
        .as[(Double, Double)].head()
      rounds = rounds :+ ((shift, inertia))
      cents = means
      converged = shift <= eps
      iter += 1
    }
    (cents, assigned, rounds)
  }

  /** Product-quantization geometry: [[PqM]] subspaces × [[PqSubDims]] dims
    * = the 64-dim embedding. */
  val PqM = 8
  val PqSubDims = 8

  /** PQ codebook stride: codebook entries are every `stride`-th corpus
    * vector, so the codebook size is n/stride. Production PQ wants a FIXED
    * codebook size (~256 codes/subspace — one byte per code); stride =
    * max(8, ⌈n/256⌉) converges to 256 codes above n ≈ 2048 while pinning
    * every fixture scale (500/2000 vectors ⇒ stride 8) to the oracle's
    * `vec_id % 8 = 0` selection. Same fixture-floored-derivation pattern
    * as [[ivfCellStride]]. */
  private[graft] def pqStride(n: Long): Long =
    graft.operators.Dedup.warnIfPastOracleFloor("pq codebook stride",
      math.max(8L, (n + 255L) / 256L), 8L)

  /** ADC shortlist depth for [[topkPq]]'s exact re-rank: 5×[[TopK]]. On the
    * fixture this lifts recall@10 vs [[topkBruteForce]] from ≈0.3 (raw ADC
    * order — 62 seeded codes against near-random 64-dim vectors, PQ's worst
    * case) to ≈0.75; `DedupSpec` pins the measured floor. */
  val PqRerank = 5 * TopK

  /** Squared L2 distance restricted to subspace `m`, 6 dp (the engine-
    * stable comparison key — the [[graft.functions.Vec.cosine6]] convention).
    * Used for ENCODING (nearest codebook entry is an L2 question). */
  private def subDist(v: Column, c: Column, m: Int): Column =
    round((0 until PqSubDims).map { i =>
      val d = m * PqSubDims + i + 1
      (element_at(v, d) - element_at(c, d)) * (element_at(v, d) - element_at(c, d))
    }.reduce(_ + _), 6)

  /** Inner product restricted to subspace `m`, 6 dp. Used for the ADC
    * lookup table: Σₘ dot(q⊆ₘ, cb⊆ₘ) approximates dot(q, v), which over
    * the stored per-vector norm becomes approximate COSINE — the metric
    * every other `sim_*` operator ranks by (so PQ recall is measurable
    * against [[topkBruteForce]] exactly). */
  private def subDot(v: Column, c: Column, m: Int): Column =
    round((0 until PqSubDims).map { i =>
      val d = m * PqSubDims + i + 1
      element_at(v, d) * element_at(c, d)
    }.reduce(_ + _), 6)

  /** ANN top-k via product quantization with asymmetric distance computation
    * (Jégou et al. 2011) — the 100 TB memory path for similarity search:
    * each corpus vector is stored as [[PqM]] one-byte codes (32× smaller
    * than float32), each code the nearest codebook entry in its subspace;
    * a query computes one |codebook|×[[PqM]] distance table and every
    * corpus distance is then [[PqM]] table lookups summed — no float vector
    * is touched at scan time. Codebook entries are every [[pqStride]]-th
    * corpus vector (seeded, like the IVF centroids; [[kmeans]] is the
    * refinement they'd get in production).
    *
    * Scale shape: encoding is a broadcast codebook fan-out with a map-side
    * min_by collapse — the shuffle moves n code rows (one [[PqM]]-wide row
    * per vector), never the fan-out; each query's full distance table is
    * collapsed to ONE flat array row (|codebook|×[[PqM]] doubles, indexed
    * by dense code idx × subspace) and BROADCAST, so the ADC scan is a
    * shuffle-free projection: per (corpus row × query) the approximate
    * cosine is [[PqM]] `element_at` lookups summed inline — no exploded
    * (vec, m, code) rows, no join on code, no n×|queries| hash aggregate.
    * The [[PqRerank]] shortlist is then re-ranked by EXACT cosine, touching
    * full-precision vectors only for R×|queries| point lookups — the
    * shortlist-then-rerank serving pipeline of every production PQ system.
    * Like every approximate operator here, the approximation is
    * deterministic and reproduced exactly by the oracle. */
  def topkPq(spark: SparkSession, dir: String): DataFrame =
    // memoized like [[topkBruteForce]]: the seeded-codebook ranked list is
    // also the "seeded" comparison leg of [[annRecallPqRefined]], which
    // otherwise re-pays the full n×|queries| ADC scan + rerank the
    // `sim_topk_pq` query already ran. Workload-sized result.
    graft.sources.Caches.memoized(spark, s"sim-pq-topk|$dir") {
      val c = corpus(spark, dir)
      graft.sources.Caches.shared(
        pqRerank(c, strideQueries(c), pqAdcScan(spark, dir)))
    }

  /** The full-corpus ADC scan — (query, vector) approximate cosines, the
    * scan volume [[graft.ScaleProbe]] tracks (n×|queries| by construction;
    * [[ivfPqAdcScan]] is the cell-bounded comparison). */
  private[graft] def pqAdcScan(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    pqAdcScanFor(c, strideQueries(c), stridePqCodebook(spark, dir))
  }

  /** The full-corpus ADC scan for an arbitrary (corpus, query workload,
    * codebook) triple — the [[pqAdcScan]] core, reused by the refined-
    * codebook surface and the spec A/Bs. */
  private[graft] def pqAdcScanFor(c: DataFrame, q: DataFrame,
      cb: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    // the stored code table is the index — built once per session, reused
    // across workloads (the inverted-lists convention of ivfPqAdcScan)
    val codes = graft.sources.Caches.shared(pqEncode(c, cb))
    val dt = pqQueryTables(q, cb)
    // ADC scan: corpus codes × broadcast query tables, approximate cosine
    // computed inline — fixed m-ascending sum of the 8 table lookups
    codes.join(broadcast(dt), lit(true))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(pqAdcSum / ($"qn" * $"nrm"), 6).as("adc_cosine"))
  }

  /** PQ codebook with a dense code idx ordered by cid: ties in the
    * per-subspace argmin break to the lower cid, which is the lower idx —
    * order-isomorphic, so the oracle's cid-keyed formulation is reproduced
    * exactly. cidx is assigned at a bounded driver collect (≤ ~256 entries
    * by [[pqStride]] — the centroid-literal pattern [[assignedCells]]
    * uses) rather than an unpartitioned window: same cid-ascending rank,
    * no single-partition Window exchange and no "No Partition Defined"
    * WARN per build (that flood displaced the round-9 bench contract
    * line). The LocalRelation the collect re-enters as is value-equal
    * across calls, so downstream `Caches.shared` plans still dedup. */
  private[graft] def pqCodebook(c: DataFrame, stride: Long): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val entries = c.filter($"vec_id" % stride === 0)
      .select($"vec_id".as("cid"), $"v".as("cv"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .zipWithIndex.map { case ((cid, cv), i) => (cid, cv, i) }
    spark.createDataFrame(entries.toIndexedSeq).toDF("cid", "cv", "cidx")
  }

  /** The flat cidx-ordered codebook literal the native encoder reads:
    * entry e's 64 dims at offset e·64 — a bounded driver collect (≤ 256
    * entries × [[Dims]] doubles, the centroid-literal pattern). */
  private def pqFlatCodebook(cb: DataFrame): Array[Double] = {
    import cb.sparkSession.implicits._
    cb.orderBy($"cidx").select($"cv").as[Array[Double]].collect().flatten
  }

  /** Rounds for [[pqRefineCodebook]] (convergence usually bites first —
    * the per-round max entry shift is checked against [[KmeansEps]], the
    * [[kmeansLoop]] convention). */
  val PqRefineIters = 4

  /** k-means refinement of a PQ codebook — the training step production PQ
    * runs (Jégou et al. 2011 §III: codebooks are per-subspace k-means
    * centroids, not raw samples; the strided [[pqCodebook]] is exactly the
    * SEED set such a training run starts from). Per round, every vector's
    * 8 subspace codes come from the native [[graft.functions.PqEncode]]
    * kernel against the current codebook (shuffle-free projection), and
    * each (entry, subspace) refines to the dim-wise mean of its assigned
    * sub-vectors, 6dp-re-pinned (the [[kmeansLoop]] convention — rounds
    * iterate from bit-identical values on any partitioning). Entries that
    * attract no vectors in a subspace keep their previous values (textbook
    * Lloyd). Stops at [[KmeansEps]] max component shift or `iters`.
    *
    * Scale shape per round: one posexploded (subspace, entry, dim)-keyed
    * partial aggregation — the shuffle moves 256×64 doubles of partials
    * per map task, never vectors; the refined table (≤ 256×64 doubles)
    * collects to the driver and re-enters as literals (the
    * centroid-literal pattern). Returns (refined codebook in [[pqCodebook]]
    * shape, per-round mean quantization error — non-increasing on a
    * well-posed run, `DedupSpec` asserts it).
    *
    * Oracle surface: [[annRecallPqRefined]] pins this training END-TO-END
    * at fixed [[PqRefineOracleIters]] rounds (`earlyStop = false` — the
    * DuckDB twin unrolls exactly that many Lloyd rounds; an adaptive stop
    * would need the convergence test replicated per unrolled round). The
    * serving queries' twins still pin the strided seed codebook (below the
    * fixture knee the seeds are the shipped behavior); the convergence-
    * driven production run above the knee is recall-pinned by `DedupSpec`
    * at the sparse probe point. */
  private[graft] def pqRefineCodebook(c: DataFrame, cb0: DataFrame,
      iters: Int = PqRefineIters, earlyStop: Boolean = true): (DataFrame, List[Double]) = {
    val spark = c.sparkSession
    import spark.implicits._
    // (cidx, cid, flat cv) — mutated per round, re-entered as literals
    var entries = cb0.orderBy($"cidx")
      .select($"cidx", $"cid", $"cv")
      .as[(Int, Long, Seq[Double])].collect()
    var errs = List.empty[Double]
    var iter = 0
    var converged = false
    while (!(earlyStop && converged) && iter < iters) {
      val cbDf = spark.createDataFrame(entries.toSeq)
        .toDF("cidx", "cid", "cv")
      val enc = pqEncode(c, cbDf, carry = Seq("v"))
      // per (subspace, entry, dim) mean of assigned sub-vectors + the
      // round's quantization error, one pass over the posexploded dims
      val cbLit = typedLit(entries.map(_._3).toSeq)
      val old = element_at(element_at(cbLit, $"cidx" + 1), $"dim0" + 1)
      val rows = enc
        .select($"codes", posexplode($"v").as(Seq("dim0", "x")))
        .select(($"dim0" / PqSubDims).cast("int").as("sub"), $"dim0", $"x",
          element_at($"codes", ($"dim0" / PqSubDims).cast("int") + 1).as("cidx"))
        .groupBy($"sub", $"cidx", $"dim0")
        .agg(round(avg($"x"), 6).as("m"),
          sum(($"x" - old) * ($"x" - old)).as("se"),
          count(lit(1)).as("cnt"))
        .collect()
      val n = rows.map(_.getLong(5)).sum.toDouble / Dims
      errs = errs :+ (rows.map(_.getDouble(4)).sum / math.max(n, 1.0))
      var shift = 0.0
      val next = entries.map { case (cidx, cid, cv) => (cidx, cid, cv.toArray) }
      rows.foreach { r =>
        val (cidx, dim0, m) = (r.getInt(1), r.getInt(2), r.getDouble(3))
        shift = math.max(shift, math.abs(next(cidx)._3(dim0) - m))
        next(cidx)._3(dim0) = m
      }
      entries = next.map { case (cidx, cid, a) => (cidx, cid, a.toSeq) }
      converged = shift <= KmeansEps
      iter += 1
    }
    (spark.createDataFrame(entries.toSeq).toDF("cidx", "cid", "cv")
      .select($"cid", $"cv", $"cidx"), errs)
  }

  /** PQ top-k served from the k-means-REFINED codebook — the production
    * variant of [[topkPq]] above the fixture knee (same shortlist+rerank
    * pipeline; only the codebook training changed). Not oracled: the
    * refined entries are trained values, not corpus rows — `DedupSpec`
    * pins its recall against the strided-seed baseline instead. */
  def topkPqRefined(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val (cb, _) = pqRefineCodebook(c, stridePqCodebook(spark, dir))
    val q = strideQueries(c)
    pqRerank(c, q, pqAdcScanFor(c, q, cb))
  }

  /** Encode: nearest codebook entry (L2) per (vector, subspace), ties to
    * the lower code id — as ONE shuffle-free projection through the native
    * [[graft.functions.PqEncode]] kernel (the codebook travels as a
    * reference object, not a join side): each vector's 8 codes cost one
    * row, not 256 joined rows through 8 min_by aggregation buffers and an
    * exchange. Selection semantics are bit-identical to the DataFrame
    * fanout twin [[pqEncodeViaJoin]] (`DedupSpec` pins equality on the
    * fixtures); the stored row keeps the codes as one [[PqM]]-length
    * array (the byte-per-code layout PQ exists for). */
  private[graft] def pqEncode(c: DataFrame, cb: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    import c.sparkSession.implicits._
    val flat = pqFlatCodebook(cb)
    c.select($"vec_id" +: $"nrm" +: carry.map(col) :+
      graft.functions.PqEncode($"v", flat.toIndexedSeq, PqM, PqSubDims).as("codes"): _*)
  }

  /** The encode-via-fanout DataFrame twin (corpus × broadcast codebook,
    * 8 parallel min_by aggregates with map-side partials): the formulation
    * [[pqEncode]] replaced, kept as the semantic reference `DedupSpec`
    * checks the native kernel against. */
  private[graft] def pqEncodeViaJoin(c: DataFrame, cb: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    import c.sparkSession.implicits._
    val codeCols = carry.map(k => min(col(k)).as(k)) ++
      (0 until PqM).map(m =>
        min_by($"cidx", struct(subDist($"v", $"cv", m), $"cid")).as(s"c$m"))
    c.join(broadcast(cb), lit(true))
      .groupBy($"vec_id")
      .agg(min($"nrm").as("nrm"), codeCols: _*)
      .select($"vec_id" +: $"nrm" +: carry.map(col) :+
        array((0 until PqM).map(m => col(s"c$m")): _*).as("codes"): _*)
  }

  /** Each query's asymmetric lookup table, collapsed to a single flat
    * array per query: slot cidx*[[PqM]] + m + 1 holds dot(q⊆ₘ, cb[cidx]⊆ₘ).
    * ~2k doubles per query — broadcast to every scan task. `q` is any
    * (query_id, qv, qn) workload ([[strideQueries]] or an external
    * micro-batch). */
  private def pqQueryTables(q: DataFrame, cb: DataFrame): DataFrame = {
    import q.sparkSession.implicits._
    q.join(broadcast(cb), lit(true))
      .groupBy($"query_id")
      .agg(min($"qn").as("qn"),
        flatten(transform(
          array_sort(collect_list(struct($"cidx",
            array((0 until PqM).map(m => subDot($"qv", $"cv", m)): _*).as("ds")))),
          e => e("ds"))).as("dtarr"))
  }

  /** Inline ADC approximate dot: fixed m-ascending sum of the [[PqM]]
    * table lookups (columns `codes` + `dtarr` in scope). */
  private def pqAdcSum: Column =
    (0 until PqM).map(m =>
      element_at(col("dtarr"), element_at(col("codes"), m + 1) * PqM + m + 1))
      .reduce(_ + _)

  /** Shortlist [[PqRerank]] per query on the approximate order, then
    * re-rank the survivors by EXACT cosine — the standard PQ serving
    * pipeline: the full-precision vectors are touched only for the
    * shortlist (point lookups of R×|queries| rows), never scanned. `q` is
    * the (query_id, qv, qn) workload the ADC scan ran for. */
  private[graft] def pqRerank(c: DataFrame, q: DataFrame, adc: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    val wShort = Window.partitionBy($"query_id")
      .orderBy($"adc_cosine".desc, $"vec_id".asc)
    val short = adc.withColumn("rr", row_number().over(wShort))
      .filter($"rr" <= PqRerank)
      .select($"query_id", $"vec_id".as("neighbor_id"))
    val exact = short.join(broadcast(q), "query_id")
      .join(c.select($"vec_id".as("neighbor_id"), $"v", $"nrm"), "neighbor_id")
      .select($"query_id", $"neighbor_id",
        cosine6($"qv", $"v", $"qn", $"nrm").as("cosine"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    exact.withColumn("rank", row_number().over(w))
      .filter($"rank" <= TopK)
      .select($"query_id", $"neighbor_id", $"cosine", $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** ANN top-k via IVF × PQ — the production serving composition at 100 TB
    * (FAISS's IVFADC layout, Jégou et al. 2011): the IVF coarse quantizer
    * bounds WHICH vectors are scanned (each query touches only its
    * [[NProbe]] nearest cells — [[topkIvf]]'s structure) and PQ bounds WHAT
    * the scan reads per vector (8 one-byte codes + a norm, 32× smaller than
    * the float vector — [[topkPq]]'s structure). Composition: the per-cell
    * inverted lists carry (vec_id, codes, nrm); a query's probe set joins
    * its cells' lists on the cell id (an equi-join on the blocking key, the
    * [[assignedCells]] shape), the broadcast flat distance table scores
    * each listed vector with [[PqM]] inline lookups, and the [[PqRerank]]
    * shortlist re-ranks by exact cosine. Per-query scan cost drops from
    * n×8 lookups ([[topkPq]]) to (n×[[NProbe]]/cells)×8 — the two
    * approximations compound; recall vs brute force is pinned in
    * `DedupSpec`. Cell stride and codebook stride both derive from corpus
    * size above their fixture floors ([[ivfCellStride]], [[pqStride]]). */
  def topkIvfPq(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Caches.memoized(spark, s"sim-ivfpq-topk|$dir") {
      // memoized like [[topkBruteForce]]: the stride-workload IVFADC list is
      // the dense leg of BOTH `sim_topk_ivfpq` and the serving-default
      // [[hybridRrfAnn]] — without the memo the fused query re-pays probe
      // selection + rerank per invocation while its brute twin reads the
      // cached truth leg, which is exactly the steady-state gap the bench
      // showed. Result is workload-sized (n_queries × [[TopK]] rows);
      // external micro-batches still flow uncached through [[topkIvfPqFor]].
      val q = strideQueries(corpus(spark, dir))
      graft.sources.Caches.shared(
        pqRerank(corpus(spark, dir), q,
          ivfPqAdcScan(spark, dir, q, qKey = Some("stride"))))
    }

  /** IVFADC for an EXTERNAL (query_id, qv, qn) workload — the serving
    * entry point [[hybridRrfFor]]'s dense leg runs per micro-batch. Every
    * per-query stage (probe selection, distance table, ADC scan, rerank)
    * is independent across queries, so a corpus-id query returns
    * bit-identical rows to the batch operator's stride workload
    * (`StatefulSpec` pins the parity). External workloads differ per
    * micro-batch, so their distance tables are (correctly) not memoized —
    * only the static index legs are. */
  def topkIvfPqFor(spark: SparkSession, dir: String,
      q: DataFrame): DataFrame =
    pqRerank(corpus(spark, dir), q, ivfPqAdcScan(spark, dir, q))

  /** The cell-bounded ADC scan for the batch stride workload —
    * [[graft.ScaleProbe]]'s comparison row against [[pqAdcScan]]. */
  private[graft] def ivfPqAdcScan(spark: SparkSession, dir: String): DataFrame =
    ivfPqAdcScan(spark, dir, strideQueries(corpus(spark, dir)),
      qKey = Some("stride"))

  /** The cell-bounded ADC scan — (query, vector) approximate cosines over
    * probed cells only; its row count vs [[pqAdcScan]]'s measures what the
    * IVF stage saves ([[graft.ScaleProbe]]). `qKey` names a STABLE query
    * workload (the stride set) whose distance-table aggregate may be
    * memoized+persisted across invocations; external micro-batches pass
    * None and pay only their own workload-sized table build. */
  private[graft] def ivfPqAdcScan(spark: SparkSession, dir: String,
      q: DataFrame, qKey: Option[String] = None,
      extraLists: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val cents = centroids(c, ivfCellStride(nVecs(spark, dir)))
    val cb = stridePqCodebook(spark, dir)
    // inverted lists in PQ layout: cell id → (vec_id, codes, nrm), encoded
    // straight FROM the assignment frame — cent_id rides the encode groupBy
    // (each vector has exactly one cell), so there is no n×n join of codes
    // back to assignments. Memoized+shared-cached: the encoded index is
    // built ONCE per session — count, centroid collect, codebook collect
    // and encode plan all reuse one handle — and every serving micro-batch
    // ([[topkIvfPqFor]] via [[serveRetrievalStream]]) probes the same
    // materialization; encoding the corpus per request would be the
    // serving scale-killer
    val baseLists = graft.sources.Caches.memoized(spark, s"sim-ivfpq-lists|$dir")(
      graft.sources.Caches.shared(
        pqEncode(strideAssigned(spark, dir), cb, carry = Seq("cent_id"))))
    // ingest-appended delta lists ([[appendIndexStream]]) ride the same
    // scan: the pinned base materialization is untouched and the delta
    // unions in — the FAISS-style "inverted lists grow, quantizers
    // stay" maintenance contract ([[DeltaStore.overlay]] for why it is an
    // anti-join union, not a plain union)
    val lists = extraLists.fold(baseLists)(DeltaStore.overlay(baseLists, _, "vec_id"))
    // queries probe their NProbe nearest cells (the topkIvf probe shape),
    // each probe row carrying the query's broadcast-ready distance table.
    // The memo key carries a "stridecb" tag naming the codebook the tables
    // were built against: valid because `cb` is pinned to stridePqCodebook
    // in this scope — a variant taking a caller-supplied codebook (e.g. a
    // Lloyd-refined one) MUST key on that codebook's identity instead, or
    // it would silently reuse tables from the wrong codebook
    val qt = qKey.fold(pqQueryTables(q, cb))(k =>
      graft.sources.Caches.memoized(spark, s"sim-pq-qt|stridecb|$dir|$k")(
        graft.sources.Caches.shared(pqQueryTables(q, cb))))
    ivfPqAdcScanOver(lists, cents, qt, q)
  }

  /** The probe-select + cell-bounded ADC core over EXPLICIT index frames —
    * shared by the in-session build above and the persisted-index serving
    * path ([[topkIvfPqFromSaved]]); `qt` is the per-query distance-table
    * frame built against the SAME codebook the lists were encoded with. */
  private def ivfPqAdcScanOver(lists: DataFrame, cents: DataFrame,
      qt: DataFrame, q: DataFrame): DataFrame = {
    import q.sparkSession.implicits._
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"csim".desc, $"cent_id".asc)
    val probes = q.join(broadcast(cents), lit(true))
      .select($"query_id", $"qv", $"qn", $"cent_id",
        cosine6($"qv", $"cv", $"qn", $"cn").as("csim"))
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= NProbe)
      .select($"query_id", $"cent_id")
      .join(broadcast(qt), "query_id")
    // ADC scan over probed cells only: equi-join on the cell id, inline
    // 8-lookup approximate cosine per listed vector
    lists.join(broadcast(probes), "cent_id")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(pqAdcSum / ($"qn" * $"nrm"), 6).as("adc_cosine"))
  }

  /** Linear-probe GD rounds pinned for the oracle (the [[KmeansMaxIters]]
    * convention: the DuckDB twin unrolls exactly 2; `DedupSpec` drives the
    * loop further and checks the loss trajectory). */
  val ProbeIters = 2
  val ProbeLr = 0.5

  /** Distributed linear-probe training over the embedding corpus — the
    * representation-probing op an LLM data pipeline runs to ask "is this
    * attribute linearly readable from the embedding?", and the training
    * loop a model-based quality filter distills heuristic labels into.
    * Least-squares probe y ≈ w·[1,x] on the binary target label < 5,
    * trained by full-batch gradient descent: per round, grad_d =
    * 2·avg((pred − y)·x_d) rounded 6 dp, w ← w − lr·grad re-pinned 6 dp
    * (the [[kmeans]] convention — both engines iterate from bit-identical
    * weights; least squares keeps every op IEEE-exact arithmetic, no
    * transcendentals to diverge between engines). Output: the trained
    * 65-dim weight vector, one row per dimension (dim 0 = bias).
    *
    * Scale shape per round: prediction is a per-row fold over the weight
    * LITERAL (w is 65 doubles held driver-side — the langid-profile
    * bounded-collect pattern; no weight table is ever joined), the
    * gradient is one (dim)-keyed partial aggregation over the posexploded
    * features — the shuffle moves 65 partials per map task, never vectors
    * — and the round's weight update is a 65-row collect. Iterations are
    * a driver loop over fully-distributed rounds, exactly [[kmeansLoop]]'s
    * structure. */
  def linearProbe(spark: SparkSession, dir: String): DataFrame =
    // memoized like [[kmeans]]: the trained weight vector is a 65-row
    // artifact of the (session, corpus) pair — production trains the probe
    // once and serves it as a literal ([[probeScoreStream]]); the GD
    // driver loop re-ran per invocation for the same plan-equality reason.
    graft.sources.Caches.memoized(spark, s"sim-linear-probe|$dir") {
      import spark.implicits._
      val (w, _) = linearProbeLoop(
        Tables.spread(Tables.embeddings(spark, dir))
          .select($"vec_id", asDouble($"embedding").as("v"),
            when($"label" < 5, 1.0).otherwise(0.0).as("y")),
        ProbeLr, ProbeIters)
      spark.createDataFrame(w.zipWithIndex.map { case (x, d) => (d, x) }.toIndexedSeq)
        .toDF("dim", "weight").orderBy($"dim")
    }

  /** The production probe surface: (trained weights, per-round in-sample
    * MSE) — the loss trajectory makes training observable (non-increasing
    * on a well-posed run; `DedupSpec` asserts it). */
  private[graft] def linearProbeLoop(data: DataFrame, lr: Double,
      iters: Int): (Array[Double], List[Double]) = {
    val spark = data.sparkSession
    import spark.implicits._
    val dims = Dims + 1
    val feats = graft.sources.Caches.shared(
      data.select($"vec_id", $"y",
        concat(array(lit(1.0)), $"v").as("x")))
    var w = Array.fill(dims)(0.0)
    var losses = List.empty[Double]
    for (_ <- 1 to iters) {
      val wLit = typedLit(w.toSeq)
      val pred = aggregate(zip_with($"x", wLit, (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t)
      // one pass: per-dim STEP partials (lr folded into the 6dp-rounded
      // aggregate — rounding lr·g instead of g keeps the weight update
      // w − step a difference of two exact 6dp decimals, which never
      // lands on a rounding boundary; rounding g alone did: half of a
      // 6dp value is exactly the .5·10⁻⁶ halfway case, where engines'
      // round() disagree) + the round's MSE
      val rows = feats
        .select($"y", pred.as("p"), posexplode($"x").as(Seq("dim", "xd")))
        .groupBy($"dim")
        .agg(round(lit(2.0 * lr) * avg(($"p" - $"y") * $"xd"), 6).as("step"),
          round(avg(($"p" - $"y") * ($"p" - $"y")), 6).as("mse"))
        .collect()
      losses = losses :+ rows.head.getDouble(2)
      rows.foreach { r =>
        val d = r.getInt(0)
        w(d) = BigDecimal(w(d) - r.getDouble(1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    (w, losses)
  }

  /** Streaming serve twin of [[linearProbe]] — the trained weights applied
    * to arriving vectors at ingest (the model-based quality gate: train
    * offline on the corpus, select at wire speed). The weight vector is a
    * 65-double LITERAL folded into a per-row zip_with/aggregate projection
    * — NO join, NO shuffle, NO state; every arriving vector scores in one
    * codegen'd pass, the cheapest possible serving plan (the
    * `TextAnalysis.lmScoreStream` pattern taken to its no-state extreme).
    * `selected` thresholds the least-squares prediction at 0.5 — the
    * class boundary of the probe's binary target. */
  def probeScoreStream(vecStream: DataFrame, w: Array[Double]): DataFrame = {
    val wLit = typedLit(w.toSeq)
    vecStream
      .select(col("vec_id"),
        concat(array(lit(1.0)), asDouble(col("embedding"))).as("x"))
      .select(col("vec_id"),
        round(aggregate(zip_with(col("x"), wLit, (a, b) => a * b),
          lit(0.0), (acc, t) => acc + t), 6).as("score"))
      .withColumn("selected", col("score") >= 0.5)
  }

  /** Reciprocal-rank-fusion constant (Cormack/Clarke/Buettcher 2009): the
    * standard k = 60 — large enough that rank differences deep in a list
    * barely move the fused score, small enough that top ranks dominate. */
  val RrfK = 60

  /** Hybrid retrieval: reciprocal-rank fusion of the LEXICAL ranking
    * ([[TextAnalysis.bm25TopK]] — sparse, term-match) and the DENSE ranking
    * ([[topkBruteForce]] — embedding cosine) for the shared stride-100
    * query workload (`documents.doc_id` and `embeddings.vec_id` are the
    * same id space in this lake, the `sim_*`/`text_*` convention). Each
    * retrieved doc scores Σ_legs 1/([[RrfK]] + rank_leg) over the legs that
    * returned it (rank-only fusion — RRF deliberately ignores the
    * incomparable BM25/cosine score scales), rounded 6 dp; ties break on
    * doc_id ascending; top [[TopK]] per query survive. This is the serving
    * composition every RAG retrieval stack runs — lexical recall for rare
    * exact terms, dense recall for paraphrase — expressed as a full-outer
    * equi-join of the two legs' top-k lists.
    *
    * Scale shape: strictly the sum of its legs (each already bounded:
    * BM25's capped postings join, ANN's broadcast query scan — at 100 TB
    * the dense leg swaps in [[topkIvfPq]], WIRED as [[hybridRrfAnn]] and
    * the serving default) plus a
    * fusion join and window over ≤ 2·[[TopK]] rows PER QUERY — workload-
    * sized, corpus-independent. Legs absent from a doc contribute nothing;
    * `lex_rank`/`sem_rank` = 0 mark "not retrieved by that leg". */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fuseRrf(
      TextAnalysis.bm25TopK(spark, dir)
        .select($"query_id", $"doc_id", $"rank".as("lex_rank")),
      topkBruteForce(spark, dir)
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("sem_rank")))
  }

  /** [[hybridRrf]] with the PRODUCTION dense leg: the [[topkIvfPq]] IVFADC
    * index instead of the exact corpus scan. Same fusion stage, same output
    * contract; per-query dense cost drops from n cosines to
    * (n·[[NProbe]]/cells) 8-lookup ADC sums + [[PqRerank]] exact re-ranks —
    * the swap the exact operator's scaladoc promises at 100 TB, shipped as
    * its own oracled query so the fused ANN behavior is hash-pinned too.
    * Recall of the fused list vs [[hybridRrf]]'s is pinned in `DedupSpec`
    * (the dense legs' own recall floor rides `sim_ann_recall` /
    * the PQ specs). */
  def hybridRrfAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fuseRrf(
      TextAnalysis.bm25TopK(spark, dir)
        .select($"query_id", $"doc_id", $"rank".as("lex_rank")),
      topkIvfPq(spark, dir)
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("sem_rank")))
  }

  /** Hybrid retrieval for an EXTERNAL query workload — `queries` is
    * (query_id, text, embedding), i.e. an arriving micro-batch of probe
    * documents: both legs run through the same code paths the oracled
    * batch operators exercise (a corpus-id query returns bit-identical
    * rows either way — `StatefulSpec` pins the parity), fused by the same
    * RRF stage. This IS the serving path: [[serveRetrievalStream]] applies
    * it per micro-batch. `annDense` picks the dense leg: the default true
    * routes through the [[topkIvfPqFor]] IVFADC index (the production
    * serving plan — a corpus scan per query is a scale-killer); false keeps
    * the exact [[topkBruteForceFor]] scan (ground truth / recall-eval
    * runs). */
  def hybridRrfFor(spark: SparkSession, dir: String, queries: DataFrame,
      annDense: Boolean = true): DataFrame = {
    import spark.implicits._
    val qToks = queries.select($"query_id",
      explode(array_distinct(graft.functions.Text.tokens($"text"))).as("tok"))
    val lex = TextAnalysis.bm25TopKFor(spark, dir, qToks)
      .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
    val qv = queries.select($"query_id", asDouble($"embedding").as("qv"))
      .withColumn("qn", norm($"qv"))
    val dense =
      if (annDense) topkIvfPqFor(spark, dir, qv)
      else topkBruteForceFor(corpus(spark, dir), qv)
    fuseRrf(lex,
      dense.select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("sem_rank")))
  }

  /** Hybrid retrieval over BOTH delta-maintained legs — the end-to-end
    * "new documents searchable now, no rebuild" serving composition:
    * the lexical leg reads base postings ∪ appended segments under pinned
    * idf ([[TextAnalysis.bm25TopKWithDelta]]), the dense leg reads base
    * inverted lists ∪ appended PQ rows under pinned quantizers
    * ([[topkIvfPqWithDelta]]), and the same RRF stage fuses them.
    * `queries` is the (query_id, text, embedding) arrival schema of
    * [[hybridRrfFor]]; `postingsDir`/`listsDir` are the two legs' delta
    * stores and `deltaVecs` the appended vectors' side table (for the
    * exact re-rank). */
  def hybridRrfWithDelta(spark: SparkSession, dir: String, queries: DataFrame,
      postingsDir: String, deltaVecs: DataFrame, listsDir: String): DataFrame = {
    import spark.implicits._
    val qToks = queries.select($"query_id",
      explode(array_distinct(graft.functions.Text.tokens($"text"))).as("tok"))
    val lex = TextAnalysis.bm25TopKWithDelta(spark, dir, qToks, postingsDir)
      .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
    val qv = queries.select($"query_id", asDouble($"embedding").as("qv"))
      .withColumn("qn", norm($"qv"))
    val dense = topkIvfPqWithDelta(spark, dir, qv, deltaVecs, listsDir)
      .select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("sem_rank"))
    fuseRrf(lex, dense)
  }

  /** Hybrid retrieval with BOTH legs served from COLD persisted artifacts
    * — the posture a fresh serving session (or a 1000-executor job server
    * that did not build the index) actually starts in: the lexical leg
    * loads the [[TextAnalysis.savePostingsIndex]] artifacts, the dense leg
    * the [[saveIndex]] artifacts; nothing is re-derived from the corpus
    * except the exact re-rank's vector lookups (the lake stays the source
    * of truth). Optional delta stores union in exactly as in
    * [[hybridRrfWithDelta]]. `IndexMaintenanceSpec` pins bit-equality with
    * the in-session build under a full memo drop. */
  def hybridRrfFromSaved(spark: SparkSession, dir: String, queries: DataFrame,
      denseIndexDir: String, lexIndexDir: String,
      segStore: Option[String] = None, listsStore: Option[String] = None,
      deltaVecs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val qToks = queries.select($"query_id",
      explode(array_distinct(graft.functions.Text.tokens($"text"))).as("tok"))
    val lex = TextAnalysis.bm25TopKFromSaved(spark, lexIndexDir, qToks, segStore)
      .select($"query_id", $"doc_id", $"rank".as("lex_rank"))
    val qv = queries.select($"query_id", asDouble($"embedding").as("qv"))
      .withColumn("qn", norm($"qv"))
    // deltaVecs is REQUIRED with listsStore: appended ids would survive
    // the ADC scan but silently vanish at the exact re-rank's lake join —
    // the one misuse that would make the delta leg unable to return the
    // documents it exists to serve
    require(listsStore.isEmpty || deltaVecs.isDefined,
      "hybridRrfFromSaved: listsStore set without deltaVecs — pass the " +
        "appended vectors' lake partition (readVecsDelta) or the re-rank " +
        "drops every appended id")
    val dense = (listsStore match {
      case Some(store) => topkIvfPqFromSavedWithDelta(spark, dir, qv,
        denseIndexDir, store, deltaVecs.get)
      case None => topkIvfPqFromSaved(spark, dir, qv, denseIndexDir)
    }).select($"query_id", $"neighbor_id".as("doc_id"), $"rank".as("sem_rank"))
    fuseRrf(lex, dense)
  }

  /** The RRF fusion stage shared by the batch operator and the serving
    * path: full-outer join of the legs' top-k lists, Σ 1/(k+rank) over
    * present legs, top-[[TopK]] per query. Workload-sized by construction
    * (≤ 2·[[TopK]] rows per query reach it). */
  private def fuseRrf(lex: DataFrame, sem: DataFrame): DataFrame = {
    import lex.sparkSession.implicits._
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(RrfK) + $"lex_rank"), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + $"sem_rank"), lit(0.0)), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"rrf_score".desc, $"doc_id".asc)))
      .filter($"rank" <= TopK)
      .select($"query_id", $"doc_id",
        coalesce($"lex_rank", lit(0)).as("lex_rank"),
        coalesce($"sem_rank", lit(0)).as("sem_rank"),
        $"rrf_score", $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** Retrieval serving at ingest: arriving (query_id, text, embedding)
    * probe documents are retrieved against the STATIC corpus index per
    * micro-batch via `foreachBatch` — the request/response shape a RAG
    * stack actually runs (a retrieval query is a multi-stage DAG: two legs
    * + fusion; `foreachBatch` is Structured Streaming's sanctioned way to
    * run full batch plans per micro-batch, the `KeyedUpsertSink.merge`
    * convention). Results append to `outDir` as parquet with the batch id
    * riding along — an idempotent-enough audit trail for the demo;
    * production would write to a keyed serving store. The dense leg is the
    * [[topkIvfPqFor]] IVFADC index by default ([[hybridRrfFor]]'s
    * `annDense`) — serving never scans the corpus per query. */
  def serveRetrievalStream(queryStream: DataFrame, spark: SparkSession,
      dir: String, outDir: String, annDense: Boolean = true): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    queryStream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        hybridRrfFor(spark, dir, batch, annDense)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
  }

  /** [[serveRetrievalStream]] with both legs on COLD persisted artifacts —
    * the serving PROCESS a production deployment runs: a stateless worker
    * that loads nothing but the index artifacts and answers arriving
    * query batches; the index-building session is long gone. Same
    * foreachBatch/append contract as the in-session twin. */
  def serveRetrievalStreamFromSaved(queryStream: DataFrame,
      spark: SparkSession, dir: String, denseIndexDir: String,
      lexIndexDir: String, outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    queryStream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        hybridRrfFromSaved(spark, dir, batch, denseIndexDir, lexIndexDir)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
  }

  // ------------- incremental IVF-PQ index maintenance (ingest-time append)

  /** Encode an arriving vector batch into the PINNED serving index's layout
    * — (vec_id, nrm, cent_id, codes), the exact inverted-list row the base
    * index stores. Cell assignment uses the base corpus's centroid set and
    * PQ codes the base's strided codebook: incremental maintenance NEVER
    * moves the quantizers (the FAISS IVF-add contract — lists grow,
    * coarse/fine quantizers stay until an explicit retrain), so an
    * appended vector is bit-identical to what a full rebuild at the same
    * quantizers would store, which is exactly what `IndexMaintenanceSpec`
    * pins. `vecs` is (vec_id, embedding) — the raw arrival schema. */
  private[graft] def encodeForIndex(spark: SparkSession, dir: String,
      vecs: DataFrame): DataFrame = {
    import spark.implicits._
    val v = vecs.select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val cents = centroids(corpus(spark, dir), ivfCellStride(nVecs(spark, dir)))
    pqEncode(assignedCells(v, cents), stridePqCodebook(spark, dir),
      carry = Seq("cent_id"))
  }

  /** Ingest-time index maintenance: arriving (vec_id, embedding) rows are
    * assigned + encoded against the pinned index per micro-batch and
    * APPENDED to the delta store — the write half of the grow-only
    * inverted-list contract ([[encodeForIndex]]). Each batch's rows carry
    * the stream's EPOCH id, so the read side ([[readIndexDelta]]) is a
    * deterministic keyed upsert: a replayed epoch appends byte-identical
    * rows that collapse on the (vec_id, epoch) key, and a genuine
    * re-upload of a CHANGED payload under the same vec_id in a later
    * epoch deterministically wins (latest epoch per key) — resolved at
    * read time because parquet append cannot upsert. */
  def appendIndexStream(vecStream: DataFrame, spark: SparkSession,
      dir: String, storeDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    vecStream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        DeltaStore.append(encodeForIndex(spark, dir, batch), storeDir, epoch)
      }
  }

  /** The replay-safe read of the appended delta lists
    * ([[DeltaStore.latest]] on vec_id). */
  def readIndexDelta(spark: SparkSession, storeDir: String): DataFrame =
    DeltaStore.latest(spark, storeDir, "vec_id")

  /** Persist the built IVFADC index — inverted lists + both quantizers —
    * as three parquet tables. At 100 TB the index build (corpus scan,
    * assignment, encode) is a batch job whose output OUTLIVES the session:
    * serving processes load the artifacts and never re-derive them
    * ([[topkIvfPqFromSaved]]). The exact-rerank stage still reads the
    * vector lake (`embeddings`), which stays the source of truth — the
    * index carries only codes, cells, and norms (the 32×-compressed
    * serving working set). */
  def saveIndex(spark: SparkSession, dir: String, indexDir: String): Unit = {
    val c = corpus(spark, dir)
    val cents = centroids(c, ivfCellStride(nVecs(spark, dir)))
    val cb = stridePqCodebook(spark, dir)
    pqEncode(strideAssigned(spark, dir), cb, carry = Seq("cent_id"))
      .write.mode("overwrite").parquet(s"$indexDir/lists")
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    cb.write.mode("overwrite").parquet(s"$indexDir/codebook")
  }

  /** IVFADC serving from a PERSISTED index ([[saveIndex]]): probe
    * selection, distance tables and the cell-bounded scan all read the
    * loaded artifacts — nothing is re-derived from the raw vectors except
    * the exact re-rank's candidate lookups. A fresh session serving a
    * prebuilt index starts here; `IndexMaintenanceSpec` pins bit-equality
    * with the in-session build. */
  def topkIvfPqFromSaved(spark: SparkSession, dir: String, q: DataFrame,
      indexDir: String): DataFrame =
    pqRerank(corpus(spark, dir), q, ivfPqAdcScanSaved(spark, q, indexDir, None))

  /** The cell-bounded ADC scan over PERSISTED artifacts, optionally ∪ a
    * delta store — the scan stage [[topkIvfPqFromSaved]]/
    * [[topkIvfPqFromSavedWithDelta]] rank; exposed separately so
    * [[graft.ScaleProbe]] can count serving scan rows across a
    * compaction. */
  private[graft] def ivfPqAdcScanSaved(spark: SparkSession, q: DataFrame,
      indexDir: String, storeDir: Option[String]): DataFrame = {
    val base = spark.read.parquet(Artifact.resolve(spark, indexDir, "lists"))
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val cb = spark.read.parquet(s"$indexDir/codebook")
    val lists = storeDir.fold(base)(s =>
      DeltaStore.overlay(base, readIndexDelta(spark, s), "vec_id"))
    ivfPqAdcScanOver(lists, cents, pqQueryTables(q, cb), q)
  }

  /** IVFADC serving from a persisted index ∪ an appended delta store —
    * the cold-start twin of [[topkIvfPqWithDelta]]: lists, quantizers and
    * the delta segments all come from disk; `deltaVecs` is the appended
    * vectors' lake partition (the exact re-rank's source for appended
    * ids). Serve-before-compaction ≡ serve-after-compaction bit-for-bit:
    * [[compactIndex]] only moves byte-identical rows from the delta store
    * into the base lists, and [[DeltaStore.overlay]] makes the move (and any
    * replayed epoch left behind) invisible to the scan. */
  def topkIvfPqFromSavedWithDelta(spark: SparkSession, dir: String,
      q: DataFrame, indexDir: String, storeDir: String,
      deltaVecs: DataFrame): DataFrame =
    pqRerank(lakeWithDelta(spark, dir, deltaVecs), q,
      ivfPqAdcScanSaved(spark, q, indexDir, Some(storeDir)))

  /** Merge the ingest-appended delta store back into the persisted base
    * lists — the batch compaction job that returns serving cost C/O to
    * 1.0, OFF the serving path (run it where the index build ran, not in
    * the query path). Quantizers are NOT retrained: compaction moves
    * byte-identical rows, so serving before and after is bit-equal
    * (`IndexMaintenanceSpec` pins it); a retrain is a fresh [[saveIndex]]
    * over the grown lake, scheduled when [[retrainAdvised]] trips. The
    * fold and its crash order are [[DeltaStore.fold]]'s. */
  def compactIndex(spark: SparkSession, indexDir: String,
      storeDir: String): Unit =
    // a retraction tombstone (null cell — [[CorpusLake.refreshIndexFromLake]])
    // is spent once its vec's base rows are anti-joined away in THIS
    // rewrite — drop it so the base never accumulates dead rows for
    // deleted vectors (the lexical fold's twin rule)
    DeltaStore.fold(spark, storeDir, indexDir, "lists", "vec_id")(
      readIndexDelta(spark, storeDir))(_.filter(col("cent_id").isNotNull))

  /** The retrain job [[retrainAdvised]] schedules — the one operation the
    * pinned-quantizer maintenance contract defers: rebuild coarse + fine
    * quantizers AND the inverted lists over the GROWN lake (base corpus ∪
    * the appended raw-vector partition) and persist them to a NEW index
    * directory. Versioned-artifact pattern, deliberately not an in-place
    * swap: serving flips to `newIndexDir` atomically by path when the
    * build completes, the old index keeps serving until then, and a crash
    * mid-retrain leaves the old artifacts untouched (no partial-swap
    * state, unlike [[compactIndex]]'s same-dir fold which moves only
    * byte-identical rows). Strides re-derive from the grown corpus size,
    * so cell count and codebook track √n / the stride knee exactly as the
    * original build did. After a retrain the delta store and vecs
    * partition restart empty for the new epoch of appends. */
  def retrainIndex(spark: SparkSession, dir: String, vecsDir: String,
      newIndexDir: String): Unit = {
    val lake = lakeWithDelta(spark, dir, readVecsDelta(spark, vecsDir))
    val n = lake.count()
    val cents = centroids(lake, ivfCellStride(n))
    val cb = pqCodebook(lake, pqStride(n))
    pqEncode(assignedCells(lake, cents), cb, carry = Seq("cent_id"))
      .write.mode("overwrite").parquet(s"$newIndexDir/lists")
    cents.write.mode("overwrite").parquet(s"$newIndexDir/centroids")
    cb.write.mode("overwrite").parquet(s"$newIndexDir/codebook")
  }

  /** The replay-safe read of an appended raw-vector lake partition
    * ((vec_id, embedding, epoch) rows; [[DeltaStore.latest]] on vec_id). */
  def readVecsDelta(spark: SparkSession, vecsDir: String): DataFrame =
    DeltaStore.latest(spark, vecsDir, "vec_id")

  /** Mean-recall MARGIN under the shipped baseline past which
    * [[retrainAdvised]] trips. The advisory is relative, not an absolute
    * floor: the IVFADC leg's own approximation loss already prices mean
    * recall below 1.0, so "drifted" means "measurably below what this
    * index scored on the snapshot it was trained on". */
  val DriftRecallMargin = 0.05

  /** Quantizer-drift check: recall@[[TopK]] of the DELTA-SERVING leg
    * (base lists ∪ appended delta under pinned quantizers) against the
    * MEMOIZED brute-force truth of the base snapshot, on the stride probe
    * set — compared to the SAME index's shipped recall on that snapshot
    * ([[topkIvfPq]] vs truth, both session-memoized). Appends drawn from
    * the trained distribution leave the two means equal (adding vectors
    * never improves a truth row's rank, and far-away vectors never enter
    * a top-k); a drifted ingest — new content crowding the probe
    * neighborhoods — pushes base-truth neighbors out of the served top-k
    * and the delta mean falls below baseline − [[DriftRecallMargin]]: the
    * signal that the pinned quantizers/statistics no longer describe the
    * lake and a retrain (fresh [[saveIndex]] over the grown lake) should
    * be scheduled. Per-batch cost is workload-sized beyond the serving
    * scan itself: the truth and baseline legs are memoized, and the
    * comparison joins two ≤ k-per-query lists (≤ 2·|queries|·k rows —
    * [[graft.ScaleProbe]] measures the volume). */
  def indexDriftCheckFrames(spark: SparkSession, dir: String,
      deltaVecs: DataFrame, deltaLists: DataFrame): DataFrame = {
    val q = strideQueries(corpus(spark, dir))
    driftCompare(spark, dir,
      pqRerank(lakeWithDelta(spark, dir, deltaVecs), q,
        ivfPqAdcScan(spark, dir, q, extraLists = Some(deltaLists))))
  }

  /** The drift check over the REAL serving leg — persisted base artifacts
    * ∪ the delta store. This is what [[maintainIndexStream]] runs: after a
    * compaction the folded rows live in the persisted base and keep being
    * measured; an in-session-base variant would go blind to them (recall
    * snapping back to baseline the moment the delta folds in, so the
    * advisory could never accumulate across compactions). */
  def indexDriftCheckSaved(spark: SparkSession, dir: String,
      indexDir: String, storeDir: String, deltaVecs: DataFrame): DataFrame = {
    val q = strideQueries(corpus(spark, dir))
    driftCompare(spark, dir,
      pqRerank(lakeWithDelta(spark, dir, deltaVecs), q,
        ivfPqAdcScanSaved(spark, q, indexDir, Some(storeDir))))
  }

  /** The shared comparison stage: served list vs the memoized pinned truth,
    * advisory flag vs the memoized shipped baseline. */
  private def driftCompare(spark: SparkSession, dir: String,
      served: DataFrame): DataFrame = {
    import spark.implicits._
    // both means re-pinned 6dp before the margin compare: the comparison
    // must be engine-stable at the boundary, and an unrounded avg is
    // summation-order-dependent in the last bits
    val baseline = annRecallOf(topkBruteForce(spark, dir), topkIvfPq(spark, dir))
      .agg(round(avg($"recall"), 6).as("base_mean"))
    annRecallOf(topkBruteForce(spark, dir), served)
      .crossJoin(broadcast(baseline))
      .withColumn("mean_recall",
        round(avg($"recall").over(Window.partitionBy()), 6))
      .withColumn("retrain_advised",
        $"mean_recall" < $"base_mean" - lit(DriftRecallMargin))
      .select($"query_id", $"n_hits", $"recall", $"retrain_advised")
      .orderBy($"query_id")
  }

  /** [[indexDriftCheckFrames]] reading the delta store. */
  def indexDriftCheck(spark: SparkSession, dir: String, storeDir: String,
      deltaVecs: DataFrame): DataFrame =
    indexDriftCheckFrames(spark, dir, deltaVecs,
      readIndexDelta(spark, storeDir))

  /** Production-path dense DATA drift — zero new assignment work: the
    * persisted base lists' cell histogram vs the delta store's (the
    * arrivals encoded since the quantizer was pinned, latest-wins,
    * retraction tombstones excluded). The base histogram is the
    * distribution the quantizer was trained to balance; a delta that
    * distributes differently says arrivals have drifted from the
    * training distribution — an earlier and cheaper signal than
    * [[indexDriftCheck]]'s recall probe, and complementary to it (the
    * distribution can move before recall does, and a recall drop can
    * happen with no distribution shift). Where [[cellDrift]] twins
    * snapshots so DuckDB can oracle the algebra, this reads the REAL
    * serving artifacts: two KB-scale aggregates over code tables, no
    * vector ever touched. Returns per-cell
    * (cell_id, n_base, n_delta, shift_ppm, shifted) — shift is the
    * delta's cell-share minus the base's, flagged past [[CellShiftPpm]];
    * empty frame when no delta exists yet (nothing has arrived, nothing
    * to compare). */
  def cellDriftFromIndex(spark: SparkSession, indexDir: String,
      storeDir: String): DataFrame = {
    import spark.implicits._
    val empty = spark.range(0).select($"id".as("cell_id"),
      lit(0L).as("n_base"), lit(0L).as("n_delta"),
      lit(0L).as("shift_ppm"), lit(false).as("shifted")).limit(0)
    if (Artifact.find(spark, storeDir).isEmpty) return empty
    val base = spark.read
      .parquet(Artifact.resolve(spark, indexDir, "lists"))
      .filter($"cent_id".isNotNull)
      .groupBy($"cent_id".as("cell_id")).agg(count(lit(1)).as("n_base"))
    val delta = readIndexDelta(spark, storeDir)
      .filter($"cent_id".isNotNull)
      .groupBy($"cent_id".as("cell_id")).agg(count(lit(1)).as("n_delta"))
    if (delta.limit(1).count() == 0) return empty
    val w = Window.partitionBy()
    base.join(delta, Seq("cell_id"), "full_outer")
      .select($"cell_id", coalesce($"n_base", lit(0L)).as("n_base"),
        coalesce($"n_delta", lit(0L)).as("n_delta"))
      .withColumn("shift_ppm",
        round(($"n_delta" * lit(1e6) / sum($"n_delta").over(w)) -
          ($"n_base" * lit(1e6) / sum($"n_base").over(w))).cast("long"))
      .withColumn("shifted", abs($"shift_ppm") > lit(CellShiftPpm))
      .orderBy($"cell_id")
  }

  /** The advisory scalar a maintenance loop acts on: (mean recall vs the
    * pinned truth, trip flag). */
  def retrainAdvised(spark: SparkSession, dir: String, storeDir: String,
      deltaVecs: DataFrame): (Double, Boolean) = {
    import spark.implicits._
    indexDriftCheck(spark, dir, storeDir, deltaVecs)
      .agg(avg($"recall"), max($"retrain_advised"))
      .as[(Double, Boolean)].head()
  }

  /** The deterministic BATCH twin of the drift check, as its own oracled
    * query: the [[indexAppend]] delta (every 10th vector re-arriving
    * under a fresh id) is served through base ∪ delta and compared to the
    * pinned base truth and baseline. Each re-arrived exact twin takes a
    * top-k slot its base original's neighbor list never held, so the
    * delta mean sits below the shipped baseline — DuckDB re-derives the
    * full chain (union-corpus assignment/encode/scan, base brute truth,
    * BOTH recalls, mean-vs-mean against the literal margin). */
  def indexDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val delta = Tables.embeddings(spark, dir)
      .filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    indexDriftCheckFrames(spark, dir, delta,
      encodeForIndex(spark, dir, delta))
  }

  /** The full maintenance loop as ONE ingest stream — append, advise,
    * compact: per micro-batch the arriving vectors are (1) encoded
    * against the pinned quantizers and appended to `maintDir/lists`, (2)
    * appended raw to `maintDir/vecs` (the lake partition the rerank and a
    * future retrain read), (3) drift-checked against the pinned truth
    * with the advisory row appended to `maintDir/advisory`, and (4) when
    * the delta fraction reaches `compactAt` of the persisted base,
    * [[compactIndex]] folds the delta into `indexDir` — all off the query
    * path ([[DeltaStore.Trigger]]). Every write is epoch-stamped, so a
    * restart that replays an epoch — even ACROSS a compaction boundary —
    * is invisible to serving ([[DeltaStore.overlay]];
    * `IndexMaintenanceSpec` pins it). */
  def maintainIndexStream(vecStream: DataFrame, spark: SparkSession,
      dir: String, indexDir: String, maintDir: String,
      compactAt: Double = 0.25,
      advise: Boolean = true): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import spark.implicits._
    val trigger = new DeltaStore.Trigger(spark, compactAt,
      s"$indexDir/lists", s"$maintDir/lists")
    vecStream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val n = batch.count()
        DeltaStore.append(encodeForIndex(spark, dir, batch),
          s"$maintDir/lists", epoch)
        DeltaStore.append(batch.select($"vec_id", $"embedding"),
          s"$maintDir/vecs", epoch)
        if (advise) {
          // the advisory measures the REAL serving leg (persisted base ∪
          // store), so rows folded by earlier compactions keep counting
          val m = indexDriftCheckSaved(spark, dir, indexDir,
              s"$maintDir/lists", readVecsDelta(spark, s"$maintDir/vecs"))
            .agg(avg($"recall"), max($"retrain_advised"))
            .as[(Double, Boolean)].head()
          Seq((epoch, m._1, m._2))
            .toDF("epoch", "mean_recall", "retrain_advised")
            .write.mode("append")
            .parquet(Artifact.resolve(spark, s"$maintDir/advisory"))
        }
        trigger.afterAppend(n) {
          compactIndex(spark, indexDir, s"$maintDir/lists")
          // the raw-vector lake partition is append-forever (the re-rank
          // and a future retrain read it) — coalesce its per-batch file
          // sets on the same cadence, sorted by vec_id for the re-rank's
          // id lookups; this foreachBatch slot is the quiescence the
          // wholesale rewrite assumes
          DeltaStore.coalesceStore(spark, s"$maintDir/vecs",
            Seq("vec_id", "epoch"), Seq("vec_id", "epoch"))
          if (advise) DeltaStore.coalesceStore(spark, s"$maintDir/advisory",
            Seq("epoch"), Seq("epoch"))
        }
      }
  }

  /** Replay-safe read of the advisory audit rows: the advisory write is a
    * plain append (no key on disk), so a crash-replayed epoch appends its
    * row twice — dedup by epoch on read, like every other store. */
  def readAdvisory(spark: SparkSession, maintDir: String): DataFrame =
    spark.read.parquet(Artifact.resolve(spark, s"$maintDir/advisory"))
      .dropDuplicates("epoch")

  /** The deterministic BATCH twin of the ingest-append encode, as its own
    * oracled query: every 10th base vector re-arrives under a fresh id
    * (base id + 10⁶ — the re-upload shape) and is encoded against the
    * pinned quantizers exactly as [[appendIndexStream]] stores it. Output
    * is the stored list row exploded to scalar rows (vec_id, nrm·6dp,
    * cent_id, m, code) with the code reported as the codebook entry's CID
    * (the strided source vec_id — a stable engine-neutral name for the
    * entry, where the packed array stores the positional cidx). DuckDB
    * re-derives assignment (argmax round-6 cosine, ties to lower cell)
    * and codes (argmin round-6 subspace L2, ties to lower cid) from the
    * same parquet, so the maintenance encode is hash-pinned end-to-end;
    * `IndexMaintenanceSpec` separately pins that the STREAMED append
    * stores these same rows batch-for-batch. */
  def indexAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val delta = Tables.embeddings(spark, dir)
      .filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val cidByIdx = stridePqCodebook(spark, dir)
      .orderBy($"cidx").select($"cid").as[Long].collect().toSeq
    encodeForIndex(spark, dir, delta)
      .select($"vec_id", round($"nrm", 6).as("nrm"), $"cent_id",
        posexplode($"codes").as(Seq("m", "cidx")))
      .select($"vec_id", $"nrm", $"cent_id", $"m",
        element_at(typedLit(cidByIdx), $"cidx" + 1).as("code"))
      .orderBy($"vec_id", $"m")
  }

  /** IVFADC serving over base index ∪ ingest-appended delta: the query a
    * RAG stack runs five minutes after new documents arrived, without a
    * rebuild. The base lists stay one pinned materialization; the delta
    * joins the same cell-bounded ADC scan ([[ivfPqAdcScan]]'s
    * `extraLists`), and the exact rerank reads the union corpus.
    * `deltaVecs` is the (vec_id, embedding) side table of the appended
    * vectors (at 100 TB: the same lake partition the ingest wrote). */
  def topkIvfPqWithDelta(spark: SparkSession, dir: String, q: DataFrame,
      deltaVecs: DataFrame, storeDir: String): DataFrame = {
    pqRerank(lakeWithDelta(spark, dir, deltaVecs), q,
      ivfPqAdcScan(spark, dir, q,
        extraLists = Some(readIndexDelta(spark, storeDir))))
  }

  /** The exact-rerank's vector source under maintenance: base lake ∪ the
    * appended vectors' side table, delta winning on a same-id re-upload
    * ([[DeltaStore.overlay]] semantics on the raw vectors). */
  private[graft] def lakeWithDelta(spark: SparkSession, dir: String,
      deltaVecs: DataFrame): DataFrame = {
    import spark.implicits._
    val dv = deltaVecs.select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    DeltaStore.overlay(corpus(spark, dir), dv, "vec_id")
  }

  /** Per-label embedding centroids via the typed [[graft.functions.CentroidAgg]]
    * Aggregator (UDAF surface): one 64-double buffer per (label × partition)
    * through the shuffle, exploded to scalar (label, dim, value) rows and
    * rounded 6dp (double-sum order is partitioning-dependent). */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = org.apache.spark.sql.functions.udaf(new graft.functions.CentroidAgg(Dims))
    Tables.embeddings(spark, dir)
      .select($"label", asDouble($"embedding").as("v"))
      .groupBy($"label")
      .agg(agg($"v").as("centroid"))
      .select($"label", posexplode($"centroid").as(Seq("dim", "val")))
      .select($"label", $"dim", round($"val", 6).as("centroid_val"))
      .orderBy($"label", $"dim")
  }

  /** Per-vector int8 affine quantization — the storage/serving compression
    * step of an embedding pipeline (4× smaller than float32): per vector,
    * scale = (max − min)/255 and each dim maps to round((x − min)/scale) ∈
    * [0, 255]. Pure projection, shuffle-free. The oracled output carries the
    * 6-dp-rounded affine parameters plus two integer checksums over the
    * quantized codes (sum and sum-of-squares) — integer equality across
    * engines pins every code exactly without emitting 64 columns. Constant
    * vectors (scale 0) quantize to all-zero codes by convention. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("vmin", array_min($"v"))
      .withColumn("scale", (array_max($"v") - $"vmin") / lit(255.0))
      .withColumn("q", transform($"v", x =>
        when($"scale" > 0, round(((x - $"vmin") / $"scale"), 0).cast("long"))
          .otherwise(lit(0L))))
      .select($"vec_id",
        round($"scale", 6).as("scale6"),
        round($"vmin", 6).as("zero6"),
        aggregate($"q", lit(0L), (a, x) => a + x).as("qsum"),
        aggregate($"q", lit(0L), (a, x) => a + x * x).as("qsumsq"))
      .orderBy($"vec_id")
  }

  /** The random hyperplanes are DATA-INDEPENDENT constants — ±1 per (bit j,
    * dim d) by the parity of hash60(j ++ "_" ++ d) — so they are computed
    * once at plan-build time and embedded as array literals; each bit is
    * then one native dot product instead of 64 interpreted lambda steps.
    * HashKernels.h60 is the bit-exact driver-side twin of the oracle's md5
    * expression, so values are unchanged. Global bit index j = band·b + j′,
    * so growing the band width EXTENDS the bit family (the first 32 planes
    * are the round-3 constants — behavior at fixture scale is unchanged). */
  private def hyperplane(j: Int): Seq[Double] =
    (0 until Dims).map { d =>
      if (graft.functions.HashKernels.h60(s"${j}_${d}") % 2 == 1) 1.0 else -1.0
    }

  /** `keys[b]` = band b's [[lshBandBits]]-bit sketch: key bit j′ is the sign
    * of the dot product against hyperplane (b·bandBits + j′). Equivalent to
    * round 3's pack-then-slice of one 32-bit signature when bandBits = 8. */
  private def bandKeysCol(bandBits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    array((0 until LshBands).map { b =>
      (0 until bandBits).map { j =>
        shiftleft((graft.functions.DotProduct(col("v"),
          typedLit(hyperplane(b * bandBits + j))) > 0).cast("long"), j)
      }.reduce(_ + _)
    }: _*)
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH:
    * 32 deterministic hyperplane bits per vector packed into one long (pure
    * projection), banded into 4 bands of 8 bits; a pair is a candidate when
    * some band matches within Hamming distance 1 (multi-probe: the right
    * side also emits each band key with every single bit flipped), then
    * candidates are verified with exact cosine ≥ 0.4. Approximate-recall by
    * design, identically on both engines.
    *
    * Scale rationale (vs the earlier 4 bands × 4 bits): bucket count per
    * band is 256, not 16, so the expected bucket size — and with it both the
    * candidate-pair count and the worst shuffle partition of the bucket
    * self-join — drops ~16× at fixed recall loss, at the price of a 9×
    * fan-out of the (vec_id, band, key) probe rows, which are 24 bytes each.
    * Collision probability per band is 9/2^8 ≈ 0.035 for unrelated vectors
    * (vs 1/2^4 = 0.0625), while hamming-≤1 probing keeps recall at the
    * planted cos≈0.4–0.6 range at or above the 4-bit scheme's. */
  /** Distinct bucket-collision pairs (band-hamming ≤ 1) BEFORE exact-cosine
    * verification — the candidate volume [[graft.ScaleProbe]] tracks.
    * `forceBandBits` exists for ScaleProbe A/Bs only (measuring the derived
    * width against a forced constant); operators always derive. */
  private[graft] def embeddingCandidates(spark: SparkSession, dir: String,
      forceBandBits: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val bandBits = forceBandBits.getOrElse(
      lshBandBits(nVecs(spark, dir)))
    val c = graft.sources.Caches.shared(
      corpus(spark, dir).withColumn("keys", bandKeysCol(bandBits)))
    val left = c.select($"vec_id", explode(array((0 until LshBands).map(b =>
        struct(lit(b).as("band"), element_at($"keys", b + 1).as("key"))): _*)).as("bk"))
      .select($"vec_id", $"bk.band", $"bk.key")
    // multi-probe side: exact key plus each 1-bit flip => band-hamming ≤ 1
    val right = c.select($"vec_id".as("id_b"), explode(array((for {
        b <- 0 until LshBands; p <- 0 to bandBits
      } yield {
        val k = element_at($"keys", b + 1)
        val pk = if (p == 0) k else k.bitwiseXOR(lit(1L << (p - 1)))
        struct(lit(b).as("pband"), pk.as("pkey"))
      }): _*)).as("bk"))
      .select($"id_b", $"bk.pband", $"bk.pkey")
    left.join(right,
        $"band" === $"pband" && $"key" === $"pkey" && $"vec_id" < $"id_b")
      .select($"vec_id".as("id_a"), $"id_b")
      .distinct()
  }

  def nearDupEmbedding(spark: SparkSession, dir: String): DataFrame =
    nearDupEmbeddingImpl(spark, dir, None)

  /** `forceBandBits` threads the ScaleProbe A/B knob through verification. */
  private[graft] def nearDupEmbeddingImpl(spark: SparkSession, dir: String,
      forceBandBits: Option[Int]): DataFrame = {
    import spark.implicits._
    val bandBits = forceBandBits.getOrElse(
      lshBandBits(nVecs(spark, dir)))
    val c = graft.sources.Caches.shared(
      corpus(spark, dir).withColumn("keys", bandKeysCol(bandBits)))
    val cand = embeddingCandidates(spark, dir, forceBandBits)
    val a = c.select($"vec_id".as("id_a"), $"v".as("va"), $"nrm".as("na"))
    val b = c.select($"vec_id".as("id_b"), $"v".as("vb"), $"nrm".as("nb"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("cosine", cosine6($"va", $"vb", $"na", $"nb"))
      .filter($"cosine" >= NearDupCosine)
      .select($"id_a", $"id_b", $"cosine")
      .orderBy($"id_a", $"id_b")
  }
}
