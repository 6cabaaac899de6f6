package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.streaming.{ParquetKeyedStore, StreamPipeline}

/** Exactly-once across a real process death for the paper's pipeline
  * (file source → decode chain → [[ParquetKeyedStore]] via
  * `StreamPipeline.startBatchMerge`): a child JVM is SIGKILLed once at
  * least 3 batches have committed, the stream restarts from the same
  * checkpoint in this JVM, and the store must equal an uninterrupted
  * twin's row for row, with `_CURRENT` naming the last batch's
  * generation. The SIGMOD 2018 argument, checked end to end: replayable
  * source, offset WAL, idempotent sink. */
class StreamPipelineKillSpec extends SparkSpec {
  private val NBatches = 16

  /** Overlapping keys across files, so last-write-wins decides; explicit
    * strictly increasing mtimes pin the batch order. */
  private def writeBatch(in: Path, i: Int): Unit = {
    val docs = (0 until 40).map { k =>
      val ts = 1530305100000L + ((i * 7919 + k * 104729) % 100000)
      s"""{"timestamp_ms": "$ts", "fx_marker": "K${(i * 13 + k) % 97}"}"""
    }
    val p = Files.writeString(in.resolve(f"batch$i%03d.json"), docs.mkString("\n"))
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
  }

  private def inputs(root: Path): Path = {
    val in = Files.createDirectories(root.resolve("in"))
    (0 until NBatches).foreach(writeBatch(in, _))
    in
  }

  private def drain(root: Path): Unit =
    StreamPipeline.startBatchMerge(
      spark.readStream.schema("value STRING").option("maxFilesPerTrigger", 1L)
        .text(root.resolve("in").toString),
      root.resolve("store").toString, root.resolve("cp").toString)
      .awaitTermination()

  private def rows(root: Path): Seq[String] =
    new ParquetKeyedStore(root.resolve("store").toString, "fx_marker", "timestamp_ms")
      .read(spark).get.collect().map(_.mkString("|")).toSeq.sorted

  private def committed(root: Path): Int = {
    val d = root.resolve("cp/commits")
    if (!Files.exists(d)) 0
    else {
      val s = Files.list(d)
      try s.iterator().asScala.count(_.getFileName.toString.forall(_.isDigit))
      finally s.close()
    }
  }

  test("a SIGKILLed startBatchMerge stream resumes from its checkpoint " +
      "to the uninterrupted twin's store") {
    val twin = Files.createTempDirectory("graft-pipe-twin")
    inputs(twin)
    drain(twin)
    val root = Files.createTempDirectory("graft-pipe-kill")
    inputs(root)

    // fork the child: same JVM, same classpath, same --add-opens set
    val raw = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = raw.sliding(2).collect {
      case List(k, v) if k == "--add-opens" => List(k, v)
    }.toList.flatten ++ raw.filter(_.startsWith("--add-opens="))
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = (javaBin :: opens) ++ List("-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.StreamPipelineKillChild", root.toString)
    val proc = new ProcessBuilder(cmd.asJava)
      .directory(root.toFile)
      .redirectOutput(root.resolve("child.log").toFile)
      .redirectErrorStream(true)
      .start()
    val deadline = System.currentTimeMillis() + 180000L
    var killedAt = -1
    while (killedAt < 0 && proc.isAlive && System.currentTimeMillis() < deadline) {
      val n = committed(root)
      if (n >= 3) {
        proc.destroyForcibly() // SIGKILL: no shutdown hooks, no cleanup
        killedAt = n
      } else Thread.sleep(5)
    }
    if (killedAt < 0) proc.destroyForcibly()
    proc.waitFor()
    assert(killedAt >= 3 && killedAt < NBatches,
      s"the kill must land mid-stream (committed at kill: $killedAt); " +
        s"see $root/child.log")

    drain(root)
    assert(rows(root) == rows(twin),
      "same-checkpoint resume after a real kill diverged from the twin")
    assert(committed(root) == NBatches)
    val last = NBatches - 1
    assert(Files.readString(root.resolve("store/_CURRENT")).trim == f"gen-$last%020d",
      "_CURRENT must name the last batch's generation")
  }
}
