package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import graft.sources.Caches

/** A lake consumer's progress cursor: the last lake version it consumed,
  * stored as a one-row `last_version` parquet dir `<dir>/<name>` and
  * replaced through [[Artifact.publish]], so a crash mid-write leaves
  * either the old cursor or a `_SUCCESS`-marked twin that the next read
  * promotes. Every lake-fed consumer (replica,
  * postings, dense lists, profile, views) keeps its progress here, and
  * advances it LAST: data first, cursor after, so a crash anywhere
  * replays the window — which every consumer's epoch-stamped store
  * collapses on read. */
object LakeCursor {

  /** The consumed version, `Long.MinValue` when the consumer never ran.
    * Listing-signature memoized: every refresh re-reads its cursor, and
    * without the memo that is a schema-inference job plus a max() collect
    * each time; the swap rewrites the dir, so the signature invalidates
    * at the write. */
  def read(spark: SparkSession, dir: String, name: String): Long = {
    Artifact.find(spark, dir, name).fold(Long.MinValue) { p =>
      Caches.bySignature[Long](spark, "lake_cursor", p) {
        import spark.implicits._
        spark.read.parquet(p).agg(max(col("last_version"))).as[Long].head()
      }
    }
  }

  /** Replace the cursor with `v` (write the twin, then swap). */
  def write(spark: SparkSession, dir: String, name: String, v: Long): Unit = {
    import spark.implicits._
    Artifact.publish(Seq(v).toDF("last_version"), dir, name)
  }

  /** The newest version in `manifest` above `from`, at most `upTo` (a
    * bounded catch-up); None when there is nothing to consume. */
  def headAbove(manifest: DataFrame, from: Long,
      upTo: Option[Long] = None): Option[Long] = {
    import manifest.sparkSession.implicits._
    upTo.fold(manifest)(u => manifest.filter(col("version") <= u))
      .filter(col("version") > from)
      .agg(max(col("version"))).as[Option[Long]].head()
  }

  /** One cursor-last consumption step: read the cursor, let `refuse`
    * reject it (a cursor below the source's retention floor has lost the
    * history its window needs), find the head above it, run `body` over
    * the (from, head] window and only then advance the cursor. A body
    * that throws leaves the cursor where it was. Returns the window
    * consumed, or None at the head. `manifest` is read after the cursor. */
  def consume(spark: SparkSession, dir: String, name: String,
      manifest: => DataFrame)(refuse: Long => Unit)(
      body: (Long, Long) => Unit): Option[(Long, Long)] = {
    val from = read(spark, dir, name)
    refuse(from)
    headAbove(manifest, from).map { h =>
      body(from, h)
      write(spark, dir, name, h)
      (from, h)
    }
  }
}
