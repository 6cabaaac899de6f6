package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that writes a local (`file:`) checkpoint's
  * small log files — file-source log, offset WAL, commit markers, state
  * store deltas — with `java.nio`, without Hadoop's local file system.
  *
  * Without Hadoop's native library, Spark's default manager
  * (`FileContext` create + rename) spawns a `chmod` or `readlink` process
  * for each permission set and link lookup: about ten per file, and about
  * 30 ms on a 4-core host for each of the three log files that every
  * micro-batch writes before the next one can start.
  *
  * On `file:` paths, `open`, `list`, `exists`, `mkdirs` and `delete` go
  * through Spark's [[FileSystemBasedCheckpointFileManager]] (none spawns
  * a process). `createAtomic` writes `.<name>.<uuid>.tmp` (Spark's own
  * temp naming, which batch listings ignore) and publishes it on `close`:
  *   - no overwrite: a hard link, which fails on a taken name, so `close`
  *     throws Hadoop's [[FileAlreadyExistsException]] and the first bytes
  *     stay (the create-if-absent `HDFSMetadataLog.add` relies on);
  *   - overwrite: an atomic rename over the target.
  * A stale `.<name>.crc` sibling left by a checksummed writer is deleted
  * before publishing, or the checksummed read would reject the new bytes.
  * `cancel` deletes the temp file. Neither path fsyncs, like Spark's.
  *
  * Any other scheme gets exactly the manager `CheckpointFileManager.create`
  * picks without this class configured. */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  private val fs = path.getFileSystem(conf)
  private val local = fs.getUri.getScheme == "file"
  private val delegate: CheckpointFileManager =
    if (local) new FileSystemBasedCheckpointFileManager(path, conf)
    else {
      val plain = new Configuration(conf)
      plain.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, plain)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) delegate.createAtomic(p, overwriteIfPossible)
    else {
      val target = Paths.get(fs.makeQualified(p).toUri)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new LocalCheckpointFileManager.AtomicStream(target, tmp, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** The session setting Spark reads when a streaming query starts. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Names this class as the session's checkpoint manager, unless the
    * session already names one. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private final class AtomicStream(target: JPath, tmp: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp, CREATE_NEW, WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          publish()
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp)
      }
    }

    private def publish(): Unit = {
      val crc = target.resolveSibling(s".${target.getFileName}.crc")
      if (overwrite) {
        Files.deleteIfExists(crc)
        Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
      } else {
        // a taken name keeps its checksum: only an orphan .crc goes
        if (Files.notExists(target)) Files.deleteIfExists(crc)
        try Files.createLink(target, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$target already exists")
        }
      }
    }
  }
}
