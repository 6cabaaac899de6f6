package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.sources.Tables

/** The reference pipeline, re-expressed as reusable schema-parameterized
  * `DataFrame => DataFrame` combinators (SURVEY.md §2 S1-S4 / P1-P10,
  * reference `src/main/scala/cassandra_sink.scala:98-129`).
  *
  * Differences from the reference, on purpose (SURVEY.md §4.2/§7.5):
  *   - the typed `flatMap(_.split("\n"))` (cassandra_sink.scala:114) becomes
  *     columnar `explode(split(...))` — stays inside Catalyst/codegen, no
  *     object ser/deser sandwich. The newline-split contract difference
  *     (Scala `split` drops trailing empties; `explode` keeps them) is
  *     neutralized downstream: empty lines parse to null structs and are
  *     dropped by the null-rejecting key filter (cassandra_sink.scala:120).
  *   - the keyed last-writer-wins upsert (Cassandra PK semantics,
  *     cassandra_sink.scala:71-77) has a batch twin: a window dedup keeping
  *     the max-timestamp row per key. The streaming twin lives in
  *     `graft.streaming.KeyedUpsertSink`.
  *
  * Scale posture: the decode chain is a pure map pipeline — no shuffle until
  * the final keyed dedup, which shuffles once on the upsert key. At 100 TB the
  * plan is: narrow scan → fused codegen stage → single exchange on fx_marker.
  */
object Ingest {

  /** Declared payload schema — reference cassandra_sink.scala:105-110. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("fx_marker", StringType, nullable = false),
    StructField("timestamp_ms", StringType, nullable = true)))

  /** Kafka envelope column order — reference cassandra_sink.scala:98-103. */
  val envelopeColumns: Seq[String] =
    Seq("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")

  /** Synthesize the Kafka wire format from the `events` fixture: each message
    * `value` is a batch of newline-delimited JSON docs (multiple docs per
    * message, like the reference's example payload at cassandra_sink.scala:92-97).
    * event_type plays fx_marker; epoch-millis of ts plays timestamp_ms.
    *
    * The synthesis (to_json → groupBy msg_id → sorted collect_list) is pure
    * test scaffolding standing in for the absent Kafka broker, so it is
    * MATERIALIZED once per (sf-dir, batch size) as a parquet fixture under
    * the system temp dir — the flagship q0 then measures the actual pipeline
    * (decode → derive → filter → keyed upsert) reading wire-shaped messages,
    * not the scaffolding that fabricates them. The synthesis is
    * deterministic (array_sort fixes collect_list order), so the fixture is
    * write-once; racing writers go through a unique temp dir + atomic
    * rename. */
  def eventsAsEnvelope(spark: SparkSession, dir: String, docsPerMessage: Int = 4): DataFrame = {
    // the cache key folds in a content fingerprint of the source table
    // (file names + lengths + mtimes) so regenerated testdata under the
    // same path invalidates the fixture instead of silently shadowing it
    val src = new java.io.File(dir, "events.parquet")
    val stamp = Option(src.listFiles()).map(_.toSeq).getOrElse(Seq(src))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .sorted.mkString(";")
    val fixture = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft-envelope/" +
        // "v1" tags the synthesis logic/schema: bump on change so a stale
        // fixture from an older build can't shadow the new shape
        s"${java.lang.Long.toHexString(graft.functions.HashKernels.h60(s"v1|$dir|$docsPerMessage|$stamp"))}")
    if (!fixture.exists()) {
      val tmp = new java.io.File(fixture.getParent, s"${fixture.getName}.tmp-${java.util.UUID.randomUUID}")
      synthesizeEnvelope(spark, dir, docsPerMessage)
        .write.mode("overwrite").parquet(tmp.getPath)
      if (!tmp.renameTo(fixture)) {            // lost the race: another JVM won
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(tmp)
      }
    }
    spark.read.parquet(fixture.getPath)
  }

  private def synthesizeEnvelope(spark: SparkSession, dir: String, docsPerMessage: Int): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(
        (($"event_id") / docsPerMessage).cast("long").as("msg_id"),
        $"event_id",
        to_json(struct(
          unix_millis($"ts").cast("string").as("timestamp_ms"),
          $"event_type".as("fx_marker"))).as("doc"))
      .groupBy($"msg_id")
      .agg(concat_ws("\n", array_sort(collect_list(struct($"event_id", $"doc"))).getField("doc")).as("json"))
      .select(
        lit(null).cast("binary").as("key"),
        $"json".cast("binary").as("value"),
        lit("currency_exchange").as("topic"),
        (pmod($"msg_id", lit(3))).cast("int").as("partition"),
        $"msg_id".as("offset"),
        current_timestamp().as("timestamp"),
        lit(0).as("timestampType"))
  }

  /** P1-P5: binary value → string → newline split → JSON parse → flatten.
    * Columnar throughout (explode(split) instead of typed flatMap). */
  def decode(df: DataFrame, schema: StructType = payloadSchema): DataFrame =
    df.select(col("value").cast("string").as("value"))
      .select(explode(split(col("value"), "\n")).as("line"))
      .select(from_json(col("line"), schema).as("data"))
      .select("data.*")

  /** P6-P9: epoch-millis string → DateType, the reference's exact expression
    * shape (cassandra_sink.scala:119). UTC session TZ pinned in build.sbt.
    * The string → number step is a try-cast: a non-numeric `timestamp_ms`
    * derives a null date, as on the reference's non-ANSI Spark 2.3, instead
    * of failing the micro-batch (and every replay of it) under ANSI. */
  def deriveDate(df: DataFrame): DataFrame =
    df.withColumn("timestamp_dt", to_date(from_unixtime(
      col("timestamp_ms").try_cast("double") / 1000.0, "yyyy-MM-dd HH:mm:ss.SSS")))

  /** P10: the null-rejecting key filter (cassandra_sink.scala:120) — drops
    * empty AND null markers (SQL three-valued logic), including the null
    * structs produced by malformed JSON. */
  def filterKeyed(df: DataFrame): DataFrame =
    df.filter(col("fx_marker") =!= "")

  /** Batch twin of the Cassandra PK upsert (cassandra_sink.scala:71-77):
    * last-writer-wins per key, "last" = max event timestamp; a null or
    * non-numeric timestamp (try-cast) sorts last. One shuffle on the key;
    * survives any scale because state per key is O(1). */
  def latestPerKey(df: DataFrame, key: String = "fx_marker",
                   ts: Column = col("timestamp_ms").try_cast("long")): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col(key)).orderBy(ts.desc)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** JSON-path extraction over the `events.props` column (the P4 `from_json`
    * surface against a real fixture column): parse `{"k": int}` with a
    * declared schema, aggregate per event_type. */
  def propsJson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = StructType(Seq(StructField("k",
      org.apache.spark.sql.types.IntegerType, nullable = true)))
    Tables.events(spark, dir)
      .select($"event_type", from_json($"props", schema).getField("k").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** Relative-error budget for the HLL bounded-error columns: the default
    * `approx_count_distinct` rsd is 0.05; HLL++ estimates are deterministic
    * (hash-based), and three sigmas of slack keeps the check meaningful
    * without flaking on fixture growth. */
  val SketchRsdBound = 0.15

  /** Sketch aggregation: HyperLogLog++ distinct-count estimates per group.
    * The raw estimates are engine-specific, so the oracled output carries
    * (a) exact distinct counts — cross-checked value-for-value against
    * DuckDB `count(DISTINCT ...)` — and (b) boolean `..._within_rsd` columns
    * asserting |approx − exact| ≤ [[SketchRsdBound]]·exact, which the oracle
    * states as literal TRUE: an HLL estimate drifting out of its error
    * budget breaks the hash compare. At 100 TB the sketch replaces exact
    * countDistinct's full shuffle of the key space with fixed-size mergeable
    * buffers; the exact twin here is the correctness harness, not the scale
    * path. */
  def sketchDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"),
        countDistinct($"l_orderkey").as("exact_orders"),
        approx_count_distinct($"l_partkey").as("ap"),
        approx_count_distinct($"l_orderkey").as("ao"),
        count(lit(1)).as("n_items"))
      .select($"l_returnflag", $"exact_parts", $"exact_orders", $"n_items",
        (abs($"ap" - $"exact_parts") <=
          $"exact_parts" * SketchRsdBound).as("parts_within_rsd"),
        (abs($"ao" - $"exact_orders") <=
          $"exact_orders" * SketchRsdBound).as("orders_within_rsd"))
      .orderBy($"l_returnflag")
  }

  /** The flagship query (SparkEntry.entry): the full reference pipeline
    * end-to-end on local data — envelope → decode → derive → filter → keyed
    * upsert. Oracle-checked against a direct DuckDB computation over the same
    * `events` table, which verifies the whole encode/decode round-trip. */
  def referencePipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val decoded = filterKeyed(deriveDate(decode(eventsAsEnvelope(spark, dir))))
    latestPerKey(decoded)
      // DateType serialized as its canonical string for engine-portable
      // hash comparison; the DateType derivation itself is P9 (tested).
      .select($"fx_marker", $"timestamp_ms", $"timestamp_dt".cast("string").as("timestamp_dt"))
      .orderBy($"fx_marker")
  }
}
