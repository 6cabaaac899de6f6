package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{LocalCheckpointFileManager, ParquetKeyedStore, Stateful, StreamPipeline}
import graft.streaming.Stateful.{SessionEvent, SessionOut}

/** [[LocalCheckpointFileManager]]: the create-if-absent / overwrite /
  * cancel contract Spark's metadata logs and state store rely on, `.crc`
  * compatibility with checkpoints Spark's default manager wrote, and
  * restarts of the paper's pipeline, a stateful stream and a non-`file:`
  * checkpoint under it.
  *
  * The suites share one session, and `StreamPipeline` leaves the manager
  * installed on it, so every stream here sets (or unsets) the setting
  * itself and restores it afterwards. */
class CheckpointManagerSpec extends SparkSpec {
  private val Key = LocalCheckpointFileManager.ConfKey
  private val Ours = classOf[LocalCheckpointFileManager].getName
  private val SparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  private def withManager[T](cls: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(Key)
    def put(v: Option[String]): Unit = v.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    put(cls)
    try body finally put(prev)
  }

  private def conf = spark.sparkContext.hadoopConfiguration
  private def hpath(p: JPath) = new Path(p.toUri)
  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def manager(dir: JPath) = new LocalCheckpointFileManager(hpath(dir), conf)
  private def write(fm: LocalCheckpointFileManager, p: JPath, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: LocalCheckpointFileManager, p: JPath): String = {
    val in = fm.open(hpath(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic without overwrite is create-if-absent") {
    val dir = Files.createTempDirectory("ckpt-mgr-absent")
    val fm = manager(dir)
    val p = dir.resolve("0")
    write(fm, p, "first", overwrite = false)
    val second = fm.createAtomic(hpath(p), overwriteIfPossible = false)
    second.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](second.close())
    second.cancel() // what HDFSMetadataLog does after a failed close
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0"), "the losing writer's temp file must go")
  }

  test("createAtomic with overwrite replaces the file") {
    val dir = Files.createTempDirectory("ckpt-mgr-over")
    val fm = manager(dir)
    val p = dir.resolve("1.delta")
    write(fm, p, "old bytes", overwrite = true)
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) == "new")
    assert(names(dir) == Set("1.delta"))
  }

  test("cancel leaves neither the file nor a temp file") {
    val dir = Files.createTempDirectory("ckpt-mgr-cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(hpath(dir.resolve("2")), overwriteIfPossible = false)
    out.write("never published".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel
    assert(!fm.exists(hpath(dir.resolve("2"))))
    assert(names(dir).isEmpty)
  }

  test("a stale .crc sibling does not break open") {
    val dir = Files.createTempDirectory("ckpt-mgr-crc")
    val fm = manager(dir)
    // Hadoop's checksummed local file system writes `.<name>.crc` beside
    // each file, as Spark's default manager does
    val local = FileSystem.getLocal(conf)
    def checksummed(p: JPath, text: String): Unit = {
      val out = local.create(hpath(p), true)
      out.write(text.getBytes(UTF_8))
      out.close()
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")))
    }
    val over = dir.resolve("3")
    checksummed(over, "checksummed old bytes")
    write(fm, over, "overwritten", overwrite = true)
    assert(read(fm, over) == "overwritten")
    // an orphan .crc: its file was removed by hand
    val orphan = dir.resolve("4")
    checksummed(orphan, "gone")
    Files.delete(orphan)
    write(fm, orphan, "fresh", overwrite = false)
    assert(read(fm, orphan) == "fresh")
    // a taken name keeps its checksum and its bytes
    val taken = dir.resolve("5")
    checksummed(taken, "kept")
    intercept[FileAlreadyExistsException](write(fm, taken, "lost", overwrite = false))
    assert(read(fm, taken) == "kept")
    assert(Files.exists(dir.resolve(".5.crc")))
  }

  /** One text file of newline-delimited docs per micro-batch, with
    * strictly increasing mtimes (the file source orders batches by
    * mtime). */
  private def writeBatch(in: JPath, i: Int): Unit = {
    val docs = (0 until 6).map { k =>
      s"""{"timestamp_ms": "${1530305100000L + i * 1000 + k}", "fx_marker": "K${(i + k) % 9}"}"""
    }
    val p = Files.writeString(in.resolve(f"batch$i%03d.json"), docs.mkString("\n"))
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
  }

  private def drain(in: JPath, store: String, cp: String): Unit =
    StreamPipeline.startBatchMerge(
      spark.readStream.schema("value STRING").option("maxFilesPerTrigger", 1L)
        .text(in.toString), store, cp).awaitTermination()

  private def storeRows(store: String): Seq[String] =
    new ParquetKeyedStore(store, "fx_marker", "timestamp_ms").read(spark).get
      .collect().map(_.mkString("|")).toSeq.sorted

  private def crcFiles(dir: JPath): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".crc")).toSeq
    finally s.close()
  }

  /** The same inputs drained uninterrupted under this class. */
  private def twin(n: Int): Seq[String] = {
    val root = Files.createTempDirectory("ckpt-twin")
    val in = Files.createDirectories(root.resolve("in"))
    (0 until n).foreach(writeBatch(in, _))
    withManager(Some(Ours))(drain(in, s"$root/store", s"$root/cp"))
    storeRows(s"$root/store")
  }

  test("a checkpoint written by Spark's default manager resumes under " +
      "this one to the same store") {
    val root = Files.createTempDirectory("ckpt-resume")
    val in = Files.createDirectories(root.resolve("in"))
    (0 until 3).foreach(writeBatch(in, _))
    // Spark's default: the manager CheckpointFileManager.create picks
    // when no class is configured
    withManager(Some(SparkDefault))(drain(in, s"$root/store", s"$root/cp"))
    assert(crcFiles(root.resolve("cp/offsets")).nonEmpty,
      "setup: the default manager writes .crc files")
    (3 until 6).foreach(writeBatch(in, _))
    withManager(None) {
      drain(in, s"$root/store", s"$root/cp")
      assert(spark.conf.get(Key) == Ours, "StreamPipeline installs the manager")
    }
    assert(storeRows(s"$root/store") == twin(6))
    assert(names(root.resolve("cp/commits")).filter(_.forall(_.isDigit)) ==
      (0 until 6).map(_.toString).toSet)
  }

  test("after startBatchMerge drains, the log dirs hold no .crc file") {
    val root = Files.createTempDirectory("ckpt-nocrc")
    val in = Files.createDirectories(root.resolve("in"))
    (0 until 3).foreach(writeBatch(in, _))
    withManager(None)(drain(in, s"$root/store", s"$root/cp"))
    for (d <- Seq("offsets", "commits", "sources/0")) {
      val dir = root.resolve(s"cp/$d")
      assert(names(dir).contains("2"), s"$d must log the last batch")
      assert(crcFiles(dir).isEmpty, s"$d holds .crc files")
      assert(!names(dir).exists(_.endsWith(".tmp")), s"$d holds temp files")
    }
  }

  test("a stateful stream (sessionize) restarts from its checkpoint") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt-stateful")
    val in = Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)
    def events(name: String, es: SessionEvent*): Unit =
      Files.writeString(in.resolve(name), es.map { e =>
        s"""{"user_id": ${e.user_id}, "event_id": ${e.event_id}, "ts": "${e.ts.toInstant}"}"""
      }.mkString("\n"))
    def runOnce(): Unit = withManager(Some(Ours)) {
      val ev = spark.readStream.schema("user_id LONG, event_id LONG, ts TIMESTAMP")
        .json(in.toString).as[SessionEvent]
      Stateful.sessionize(ev).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/cp")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[SessionOut], _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    events("b1.json", SessionEvent(7, 1, ts(0)), SessionEvent(7, 2, ts(5)),
      SessionEvent(7, 3, ts(10)))
    runOnce()
    // the t=50 event closes the open session only if the restart
    // recovered it from the state store
    events("b2.json", SessionEvent(7, 4, ts(50)))
    runOnce()
    val sessions = spark.read.parquet(out).as[SessionOut].collect().toSeq
    assert(sessions == Seq(SessionOut(7, ts(0), ts(10), 3)),
      s"the session open at the restart was lost: $sessions")
    val state = root.resolve("cp/state")
    assert(Files.exists(state))
    val leftovers = Files.walk(state).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".tmp")).toSeq
    assert(leftovers.isEmpty, s"state store temp files left: $leftovers")
  }

  test("a checkpoint on another scheme drains and resumes through the delegate") {
    conf.set("fs.nostamp.impl", classOf[NoSetTimesFileSystem].getName)
    val root = Files.createTempDirectory("ckpt-nostamp")
    val in = Files.createDirectories(root.resolve("in"))
    val cp = s"nostamp:$root/cp"
    val fm = new LocalCheckpointFileManager(new Path(cp), conf)
    val probe = fm.createAtomic(new Path(s"$cp/probe"), overwriteIfPossible = false)
    assert(probe.getClass.getSimpleName == "RenameBasedFSDataOutputStream",
      "a non-file: scheme must get Spark's own rename-based stream")
    probe.cancel()
    (0 until 3).foreach(writeBatch(in, _))
    withManager(Some(Ours))(drain(in, s"$root/store", cp))
    (3 until 6).foreach(writeBatch(in, _))
    withManager(Some(Ours))(drain(in, s"$root/store", cp))
    assert(storeRows(s"$root/store") == twin(6))
    assert(names(root.resolve("cp/commits")).filter(_.forall(_.isDigit)) ==
      (0 until 6).map(_.toString).toSet)
  }
}
