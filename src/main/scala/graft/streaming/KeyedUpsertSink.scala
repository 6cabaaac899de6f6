package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}

/** Embedded keyed-upsert store standing in for the reference's Cassandra
  * table `fx.spark_struct_stream_sink` (reference cassandra_sink.scala:71-77):
  * sole-PK `INSERT` ⇒ last-writer-wins upsert per key.
  *
  * JVM-global registry so driver and local-mode executor threads share state;
  * on a real cluster this adapter would wrap an external keyed store (the
  * pipeline code on the Spark side is identical — that's the point of the
  * `ForeachWriter` seam). This map store backs ONLY the reference-fidelity
  * [[KeyedUpsertForeachWriter]] adapter; the engine's default batch-merge
  * path is the fully distributed [[ParquetKeyedStore]].
  */
object KeyedStores {
  private val stores =
    new ConcurrentHashMap[String, TrieMap[String, Seq[Any]]]()
  private val commits =
    new ConcurrentHashMap[String, ConcurrentHashMap.KeySetView[(Int, Long), java.lang.Boolean]]()

  def store(name: String): TrieMap[String, Seq[Any]] =
    stores.computeIfAbsent(name, _ => TrieMap.empty)

  def committed(name: String, partitionId: Int, epochId: Long): Boolean =
    commits.getOrDefault(name, ConcurrentHashMap.newKeySet()).contains((partitionId, epochId))

  def markCommitted(name: String, partitionId: Int, epochId: Long): Unit =
    commits.computeIfAbsent(name, _ => ConcurrentHashMap.newKeySet())
      .add((partitionId, epochId))

  def snapshot(name: String): Map[String, Seq[Any]] = store(name).toMap

  def clear(name: String): Unit = {
    stores.remove(name); commits.remove(name)
  }
}

/** Reference-fidelity row-wise sink (cassandra_sink.scala:14-41): the
  * `open(partitionId, epochId)` → `process(row)`* → `close(err)` lifecycle,
  * one upsert per row, lazy per-writer "connection" (here: store lookup).
  *
  * One deliberate improvement (SURVEY.md §7.5.1): the reference *ignores*
  * `(partitionId, version)` (cassandra_sink.scala:19-23), relying on PK
  * idempotency alone. We honor it — `open` returns false for an epoch this
  * partition already committed, so checkpoint-replay after recovery skips
  * re-processing (at-least-once delivery → effectively-once writes).
  *
  * Scale note: row-at-a-time writes are the reference's throughput floor
  * (SURVEY.md §4.1). This class exists for fidelity + tests; the engine's
  * canonical sink is the set-oriented distributed [[ParquetKeyedStore]].
  */
class KeyedUpsertForeachWriter(storeName: String, keyOrdinal: Int = 0)
    extends ForeachWriter[Row] {
  private var pid: Int = -1
  private var epoch: Long = -1L
  @transient private lazy val store = KeyedStores.store(storeName)

  override def open(partitionId: Long, epochId: Long): Boolean = {
    pid = partitionId.toInt; epoch = epochId
    !KeyedStores.committed(storeName, pid, epoch)
  }

  override def process(row: Row): Unit = {
    val key = row.get(keyOrdinal)
    if (key != null) store.put(key.toString, row.toSeq)
  }

  override def close(errorOrNull: Throwable): Unit =
    if (errorOrNull == null) KeyedStores.markCommitted(storeName, pid, epoch)
}

/** The engine's CANONICAL sink (SURVEY.md §7.5.5): set-oriented merge per
  * micro-batch via `foreachBatch` into a fully distributed keyed store — a
  * compacted parquet table with last-write-wins semantics, the local
  * stand-in for the reference's Cassandra table that never routes data
  * through the driver. This is the default `StreamPipeline.startBatchMerge`
  * wires; the driver-side map store above survives only as the
  * reference-fidelity [[KeyedUpsertForeachWriter]] adapter.
  *
  * Merge = dedup the batch on its own (one shuffle on the key, then a
  * per-key latest) → full-outer shuffled-hash join of the current state
  * against it on the key (the state's only shuffle; no sort of the state)
  * → write the new generation directory → flip the `_CURRENT` pointer
  * (atomic rename). The state is read with the schema of the generation
  * this instance last wrote; a generation it did not write (a new instance
  * on an existing directory) is inferred once. Every step is a distributed
  * DataFrame op — no `collect()` anywhere in the merge plan; driver code
  * only moves the pointer.
  *
  * LWW rule per key, `orderCol` try-cast to long: the later event time
  * wins and the batch row wins ties; a null or non-numeric order value
  * loses to a numeric one (two of them tie, so the batch row wins). Rows
  * with a null key are never stored (the rule of `Ingest.filterKeyed`).
  * Merging a batch again under its `batchId` — the replay after a crash
  * that landed after the flip — rewrites the same state: its rows tie with
  * themselves and win. Generations make readers immune to concurrent
  * compaction. At 100 TB the same shape is a MERGE INTO on a transactional
  * table format (partition-parallel write); the LWW contract and the
  * batch-side reduction are identical.
  */
class ParquetKeyedStore(rootDir: String, keyCol: String, orderCol: String) {
  import java.nio.file.{Files, Paths, StandardCopyOption}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.StructType
  private val root = Paths.get(rootDir)
  private val pointer = root.resolve("_CURRENT")
  Files.createDirectories(root)
  /** The generation this instance last wrote, with its schema. */
  @volatile private var written: Option[(String, StructType)] = None

  private def currentGen: Option[String] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim) else None

  /** Current state as a DataFrame (empty schema-less read guarded). */
  def read(spark: SparkSession): Option[DataFrame] =
    currentGen.map { g =>
      val path = root.resolve(g).toString
      written.collect { case (`g`, schema) => spark.read.schema(schema).parquet(path) }
        .getOrElse(spark.read.parquet(path))
    }

  /** The state after applying `batch`: what [[merge]] writes. */
  def applied(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // a by-number repartition: AQE cannot coalesce it away, so the join
    // below reuses it and shuffles only the state
    val latest = graft.operators.Ingest.latestPerKey(
      batch.filter(col(keyCol).isNotNull).repartition(partitions, col(keyCol)),
      keyCol, col(orderCol).try_cast("long"))
    read(spark).fold(latest) { cur =>
      val state = cur.filter(col(keyCol).isNotNull)
      val ts = state(orderCol).try_cast("long")
      val keepState = latest(keyCol).isNull ||
        coalesce(ts > latest(orderCol).try_cast("long"), ts.isNotNull)
      state.join(latest.hint("shuffle_hash"), state(keyCol) === latest(keyCol), "full_outer")
        .select(batch.columns.toSeq.map(c => when(keepState, state(c)).otherwise(latest(c)).as(c)): _*)
    }
  }

  /** foreachBatch body: distributed LWW merge of `batch` into the store. */
  def merge(batch: DataFrame, batchId: Long): Unit = {
    val gen = f"gen-$batchId%020d"
    // a batch merged again under its id overwrites the generation it reads:
    // materialize the new state before the overwrite deletes the old one
    val next = if (currentGen.contains(gen)) applied(batch).localCheckpoint() else applied(batch)
    next.write.mode("overwrite").parquet(root.resolve(gen).toString)
    written = Some(gen -> next.schema)
    val tmp = root.resolve(s"_CURRENT.$batchId.tmp")
    Files.writeString(tmp, gen)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
