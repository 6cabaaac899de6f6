package graft.storage

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one replace protocol for every durable artifact the library keeps
  * in place (lake stores and pointers, index and view tables, cursors,
  * metrics, trained models): write `<name>_compacting`, delete `<name>`,
  * rename — the write-ahead, publish-last rule of Structured Streaming's
  * offset and commit logs. A crash between delete and rename leaves only
  * the fully written twin, which the next [[resolve]] or [[find]]
  * promotes before anyone reads or appends. A partial twin left by a
  * crash DURING the write is never promoted: promotion requires the
  * committer's `_SUCCESS` marker, which only a completed write job has.
  * That matters for the FIRST write of an artifact (cursors, retention
  * markers, model tables): there is no main dir to fall back on, and
  * promoting a half-written first write would serve torn parquet. Every
  * crash point is therefore serve-consistent: mid-write → twin ignored
  * (main absent reads as "artifact never existed", the truth);
  * post-commit pre-rename → promoted. This object is the only code that
  * knows the twin name, the promotion rule and the delete→rename order. */
object Artifact {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def twin(path: String): Path = new Path(s"${path}_compacting")

  /** Whether the artifact at `path` exists once an interrupted swap is
    * completed. A rename that loses to a concurrent reader's promotion
    * still finds the main dir in place. */
  private def present(spark: SparkSession, path: String): Boolean = {
    val main = new Path(path)
    val fs = fsOf(spark, main)
    fs.exists(main) || {
      val tmp = twin(path)
      fs.exists(new Path(tmp, "_SUCCESS")) &&
        (fs.rename(tmp, main) || fs.exists(main))
    }
  }

  /** `<dir>/<name>`, with an interrupted swap completed first. */
  def resolve(spark: SparkSession, dir: String, name: String): String =
    resolve(spark, s"$dir/$name")

  /** `path`, with an interrupted swap completed first. Every appender to
    * a swap-rewritten store resolves its target: an append that creates
    * a fresh main dir would strand the completed rewrite (main now
    * exists, so it never promotes) and silently drop its rows. */
  def resolve(spark: SparkSession, path: String): String = {
    present(spark, path)
    path
  }

  /** `<dir>/<name>` if the artifact exists after recovery, else None. */
  def find(spark: SparkSession, dir: String, name: String): Option[String] =
    find(spark, s"$dir/$name")

  /** `path` if the artifact exists after recovery, else None. */
  def find(spark: SparkSession, path: String): Option[String] =
    if (present(spark, path)) Some(path) else None

  /** Replace `<dir>/<name>` with `df`'s rows (twin write, then swap). */
  def publish(df: DataFrame, dir: String, name: String): Unit =
    publish(df, s"$dir/$name")

  /** Replace the artifact at `path` with `df`'s rows. Throws when the
    * rename does not take (Hadoop's `false` return on non-POSIX file
    * systems): the main dir is already gone, the completed twin stays for
    * the next read to promote, and the caller must not go on as if the
    * new rows were published. */
  def publish(df: DataFrame, path: String): Unit = {
    val (main, tmp) = (new Path(path), twin(path))
    df.write.mode("overwrite").parquet(tmp.toString)
    val fs = fsOf(df.sparkSession, main)
    fs.delete(main, true)
    if (!fs.rename(tmp, main) && !fs.exists(main))
      throw new IOException(s"publish of $path failed: the rename of " +
        s"$tmp did not take; the completed twin is left for the next " +
        "read to promote")
  }

  /** Delete `<dir>/<name>` and any twin it has. */
  def drop(spark: SparkSession, dir: String, name: String): Unit = {
    val main = new Path(s"$dir/$name")
    val fs = fsOf(spark, main)
    fs.delete(main, true)
    fs.delete(twin(s"$dir/$name"), true)
  }
}
