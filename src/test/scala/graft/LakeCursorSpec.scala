package graft

import org.apache.spark.sql.functions.col
import graft.storage.LakeCursor

/** The lake-cursor kernel on bare temp dirs (no lake fixture): the
  * absent value, the write/read round trip, recovery of an interrupted
  * swap, and the cursor-last ordering of `consume`. */
class LakeCursorSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-cursor").toString

  test("an absent cursor reads Long.MinValue; a write reads back") {
    val d = tmp()
    assert(LakeCursor.read(spark, d, "cursor") == Long.MinValue)
    LakeCursor.write(spark, d, "cursor", 7L)
    assert(LakeCursor.read(spark, d, "cursor") == 7L)
    LakeCursor.write(spark, d, "cursor", 9L)
    assert(LakeCursor.read(spark, d, "cursor") == 9L)
    assert(!new java.io.File(s"$d/cursor_compacting").exists())
  }

  test("a finished _compacting twin with no main dir is promoted on read") {
    import spark.implicits._
    val d = tmp()
    Seq(5L).toDF("last_version").write.parquet(s"$d/cursor_compacting")
    assert(LakeCursor.read(spark, d, "cursor") == 5L)
    assert(new java.io.File(s"$d/cursor/_SUCCESS").exists())
    assert(!new java.io.File(s"$d/cursor_compacting").exists())
  }

  test("consume advances the cursor after the body, and not when it throws") {
    val d = tmp()
    val manifest = spark.range(1, 4).select(col("id").as("version"))
    var seen = Seq.empty[(Long, Long)]
    assert(LakeCursor.consume(spark, d, "cursor", manifest)(_ => ()) {
      (from, h) => seen :+= ((from, h)) } == Some((Long.MinValue, 3L)))
    assert(seen == Seq((Long.MinValue, 3L)))
    assert(LakeCursor.read(spark, d, "cursor") == 3L)
    assert(LakeCursor.consume(spark, d, "cursor", manifest)(_ => ()) {
      (_, _) => fail("nothing above the head to consume") }.isEmpty)

    val more = spark.range(1, 6).select(col("id").as("version"))
    val boom = intercept[IllegalStateException] {
      LakeCursor.consume(spark, d, "cursor", more)(_ => ()) {
        (_, _) => throw new IllegalStateException("body failed") }
    }
    assert(boom.getMessage == "body failed")
    assert(LakeCursor.read(spark, d, "cursor") == 3L)
    intercept[IllegalArgumentException] {
      LakeCursor.consume(spark, d, "cursor", more)(from =>
        require(from > 3L, "refused")) { (_, _) => fail("refused run") }
    }
    assert(LakeCursor.read(spark, d, "cursor") == 3L)
  }
}
