package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.storage.Artifact

/** Persistence for the library's SMALL trained-model artifacts — the last
  * piece of the build-once/serve-forever posture. The three INDEXES
  * already persist ([[Similarity.saveIndex]], [[TextAnalysis.savePostingsIndex]],
  * [[Dedup.saveDedupIndex]]); this closes the remaining trained state a
  * serving session needs: BPE merges, linear-probe weights, mixture
  * thresholds, DSIR bucket counts, and the bigram-LM count tables. Every
  * table is written by [[Artifact.publish]] and read through
  * [[Artifact.resolve]], the same crash-safe swap and interrupted-swap
  * recovery as the index artifacts, so a model directory is
  * serve-consistent at every crash point.
  *
  * Multi-table artifacts (DSIR, LM) swap per table, not per set — a crash
  * mid-save can mix generations across tables. The convention for a
  * retrain is therefore the [[Similarity.retrainIndex]] one: train into a
  * NEW versioned model dir and flip serving by path; in-place re-save is
  * for single-table artifacts only.
  *
  * Serving surfaces are the EXISTING parameterized appliers
  * ([[Tokenizer.bpeEncodeRows]], [[Similarity.probeScoreStream]],
  * [[Sampling.mixtureRows]], [[Sampling.dsirScoreRows]],
  * [[TextAnalysis.lmScoreStream]]) — the `FromSaved` wrappers here only
  * load the artifacts, so cold-session serving is plan-identical to
  * in-session serving (`ModelArtifactsSpec` pins bit-equality under a
  * full cache drop). */
object Models {

  /** A saved model table, recovering an interrupted swap first. */
  private def saved(spark: SparkSession, modelDir: String,
      name: String): DataFrame =
    spark.read.parquet(Artifact.resolve(spark, modelDir, name))

  // ------------- BPE tokenizer

  def saveTokenizer(spark: SparkSession, dir: String,
      modelDir: String): Unit =
    Artifact.publish(Tokenizer.bpeTrain(spark, dir), modelDir, "bpe_merges")

  /** The trained merge list in rank order — bounded by
    * [[Tokenizer.BpeMerges]], the driver-literal contract of the encode. */
  def loadMerges(spark: SparkSession, modelDir: String): Seq[(String, String)] =
    saved(spark, modelDir, "bpe_merges")
      .orderBy(col("rank"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  def bpeEncodeRowsFromSaved(spark: SparkSession, modelDir: String,
      rows: DataFrame): DataFrame =
    Tokenizer.bpeEncodeRows(rows, loadMerges(spark, modelDir))

  // ------------- linear probe (model-based quality gate)

  def saveProbe(spark: SparkSession, dir: String, modelDir: String): Unit =
    Artifact.publish(Similarity.linearProbe(spark, dir), modelDir,
      "probe_weights")

  def probeScoreFromSaved(spark: SparkSession, modelDir: String,
      vecs: DataFrame): DataFrame = {
    val w = saved(spark, modelDir, "probe_weights")
      .orderBy(col("dim")).select(col("weight"))
      .collect().map(_.getDouble(0)) // 65 doubles — the weight literal
    Similarity.probeScoreStream(vecs, w)
  }

  // ------------- source-mixture policy

  def saveMixturePolicy(spark: SparkSession, dir: String,
      modelDir: String): Unit =
    Artifact.publish(Sampling.mixtureThresholds(spark, dir), modelDir,
      "mixture_thresholds")

  def mixtureRowsFromSaved(spark: SparkSession, modelDir: String,
      rows: DataFrame): DataFrame =
    Sampling.mixtureRows(rows,
      saved(spark, modelDir, "mixture_thresholds"))

  // ------------- DSIR importance-resampling model

  def saveDsir(spark: SparkSession, dir: String, modelDir: String): Unit = {
    val (tgt, raw, totals) = Sampling.dsirModel(spark, dir)
    Artifact.publish(tgt, modelDir, "dsir_target")
    Artifact.publish(raw, modelDir, "dsir_raw")
    Artifact.publish(totals, modelDir, "dsir_totals")
  }

  def dsirScoreFromSaved(spark: SparkSession, modelDir: String,
      rows: DataFrame): DataFrame =
    Sampling.dsirScoreRows(rows,
      saved(spark, modelDir, "dsir_target"),
      saved(spark, modelDir, "dsir_raw"),
      saved(spark, modelDir, "dsir_totals"))

  // ------------- bigram-LM quality gate

  def saveLm(spark: SparkSession, dir: String, modelDir: String): Unit = {
    import spark.implicits._
    val (bgc, uni, vocab) = TextAnalysis.lmModel(spark, dir)
    Artifact.publish(bgc, modelDir, "lm_bigrams")
    Artifact.publish(uni, modelDir, "lm_unigrams")
    Artifact.publish(Seq(vocab).toDF("v"), modelDir, "lm_vocab")
  }

  def lmScoreFromSaved(spark: SparkSession, modelDir: String,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val vocab = saved(spark, modelDir, "lm_vocab")
      .agg(max($"v")).as[Long].head()
    TextAnalysis.lmScoreStream(docs,
      saved(spark, modelDir, "lm_bigrams"),
      saved(spark, modelDir, "lm_unigrams"), vocab)
  }

  /** Cold-start ingest curation: the full stateless gate chain
    * ([[Curate.ingestRows]] — quality floor, mixture policy, PII scrub,
    * context chunking) booted from the saved policy alone. A fresh ingest
    * node needs ONLY the model dir. */
  def ingestRowsFromSaved(spark: SparkSession, modelDir: String,
      rows: DataFrame): DataFrame =
    Curate.ingestRows(rows, saved(spark, modelDir, "mixture_thresholds"))

  /** Train-everything convenience: every small-model artifact the serving
    * surfaces need, into one model dir (single session; for retrains use a
    * fresh versioned dir — see the class doc). */
  def saveAll(spark: SparkSession, dir: String, modelDir: String): Unit = {
    saveTokenizer(spark, dir, modelDir)
    saveProbe(spark, dir, modelDir)
    saveMixturePolicy(spark, dir, modelDir)
    saveDsir(spark, dir, modelDir)
    saveLm(spark, dir, modelDir)
  }
}
