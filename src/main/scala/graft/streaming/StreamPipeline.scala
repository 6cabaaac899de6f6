package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Ingest

/** The S4 surface (reference cassandra_sink.scala:122-129): named,
  * checkpointed, update-mode streaming query wiring source → decode chain →
  * keyed-upsert sink.
  *
  * The source is any streaming DataFrame carrying a `value` column with the
  * Kafka wire payload (newline-delimited JSON docs) — `MemoryStream` in
  * tests, a file/rate source locally, the Kafka source verbatim on a real
  * cluster (same envelope schema, see Ingest.envelopeColumns).
  *
  * Both starts install [[LocalCheckpointFileManager]] as the session's
  * checkpoint manager (unless it names one): on a `file:` checkpoint it
  * writes each batch's source-log, offset and commit files without
  * spawning a process; other schemes keep Spark's default manager.
  */
object StreamPipeline {

  /** Decode chain shared by both sinks — P1-P10 of the reference. */
  def transform(envelope: DataFrame): DataFrame =
    Ingest.filterKeyed(Ingest.deriveDate(Ingest.decode(envelope)))

  /** Row-wise fidelity variant: ForeachWriter, `update` output mode, as in
    * the reference (`.queryName(...).outputMode("update").foreach(...)`). */
  def startForeach(envelope: DataFrame, storeName: String,
                   checkpoint: String): StreamingQuery = {
    LocalCheckpointFileManager.install(envelope.sparkSession)
    transform(envelope).writeStream
      .queryName("KafkaToKeyedStoreForeach")
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreach(new KeyedUpsertForeachWriter(storeName))
      .start()
  }

  /** Set-oriented CANONICAL variant (SURVEY.md §7.5.5): foreachBatch
    * merging into the fully distributed compacted parquet keyed table —
    * event-time LWW, no data through the driver. The row-wise map-store
    * path above remains only as the reference-fidelity adapter. */
  def startBatchMerge(envelope: DataFrame, storeDir: String,
                      checkpoint: String): StreamingQuery = {
    val store = new ParquetKeyedStore(storeDir, "fx_marker", "timestamp_ms")
    LocalCheckpointFileManager.install(envelope.sparkSession)
    transform(envelope).writeStream
      .queryName("KafkaToKeyedStoreBatch")
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(store.merge _)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
