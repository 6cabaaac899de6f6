package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.StreamPipeline

/** Forked-JVM driver for [[StreamPipelineKillSpec]]: drains envelope
  * files through [[StreamPipeline.startBatchMerge]], the paper's pipeline
  * as shipped, until the parent test SIGKILLs the process. One file per
  * micro-batch, so batch ids map to input files. */
object StreamPipelineKillChild {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: StreamPipelineKillChild <root>")
    val root = args(0)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .appName("graft-pipeline-kill-child")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", 1L).text(s"$root/in")
    StreamPipeline.startBatchMerge(env, s"$root/store", s"$root/cp")
      .awaitTermination()
    spark.stop()
  }
}
