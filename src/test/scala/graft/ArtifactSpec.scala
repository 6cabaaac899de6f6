package graft

import java.io.{File, IOException}
import java.net.URI
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import graft.storage.Artifact

/** Local filesystem whose rename of a `*_compacting` dir moves nothing and
  * returns false — Hadoop's error channel, the shape several non-POSIX
  * FileSystems use instead of throwing. The committer's own renames (task
  * and job output under `_temporary`) go through. Registered in specs via
  * `fs.norename.impl`; instantiated reflectively by Hadoop. */
class NoSwapRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean =
    !src.getName.endsWith("_compacting") && super.rename(src, dst)
}

/** The artifact kernel on bare temp dirs (no lake fixture): publish, find
  * and drop, and a swap whose rename does not take. Promotion of a left-
  * over twin and the refusal of a partial one are pinned by
  * IndexMaintenanceSpec and CrashPointSpec. */
class ArtifactSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-artifact").toString

  private def values(path: String): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(path).as[Long].collect().toSeq.sorted
  }

  test("publish replaces the artifact; find sees it and drop removes it") {
    import spark.implicits._
    val d = tmp()
    assert(Artifact.find(spark, d, "t").isEmpty)
    Artifact.publish(Seq(1L).toDF("v"), d, "t")
    assert(Artifact.find(spark, d, "t").contains(s"$d/t"))
    Artifact.publish(Seq(2L, 3L).toDF("v"), d, "t")
    assert(values(s"$d/t") == Seq(2L, 3L))
    assert(!new File(s"$d/t_compacting").exists())
    // a torn twin (no _SUCCESS) goes with the artifact
    assert(new File(s"$d/t_compacting").mkdir())
    Artifact.drop(spark, d, "t")
    assert(!new File(s"$d/t").exists())
    assert(!new File(s"$d/t_compacting").exists())
    assert(Artifact.find(spark, d, "t").isEmpty)
  }

  test("a publish whose rename fails throws; the next find promotes the twin") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.norename.impl",
      classOf[NoSwapRenameFileSystem].getName)
    val d = tmp()
    Artifact.publish(Seq(1L).toDF("v"), d, "t")
    val e = intercept[IOException] {
      Artifact.publish(Seq(7L).toDF("v"), s"norename:$d", "t")
    }
    assert(e.getMessage.contains(s"$d/t"), e.getMessage)
    assert(new File(s"$d/t_compacting/_SUCCESS").exists(),
      "the completed twin must survive a failed swap")
    assert(!new File(s"$d/t").exists())
    assert(Artifact.find(spark, d, "t").contains(s"$d/t"))
    assert(values(s"$d/t") == Seq(7L))
  }
}
