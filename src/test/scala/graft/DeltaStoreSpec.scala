package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.storage.DeltaStore

/** The delta-store kernel on bare temp dirs (no index fixture): a fold
  * beside a live appender, on the plain and the committed truncate path,
  * and the running-counter fold trigger. Serving equality across folds is
  * pinned by IndexMaintenanceSpec and LakeMaintenanceSpec. */
class DeltaStoreSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-delta").toString

  private def rows(ks: Seq[Long], v: String): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, v)).toDF("k", "v")
  }

  private def keyEpochs(path: String): Set[(Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(path).select($"k", $"epoch").as[(Long, Long)]
      .collect().toSet
  }

  private def keys(path: String): Set[Long] = {
    import spark.implicits._
    spark.read.parquet(path).select($"k").as[Long].collect().toSet
  }

  test("a fold keeps the rows an append lands during its merge step") {
    import spark.implicits._
    for (withCommitted <- Seq(false, true)) {
      val d = tmp()
      val store = s"$d/store"
      rows(Seq(1L, 2L), "base").write.parquet(s"$d/idx/t")
      DeltaStore.append(rows(Seq(2L, 3L), "e0"), store, 0L)
      DeltaStore.append(rows(Seq(4L), "e1"), store, 1L)
      // epoch 1 crashed before its commit: the committed path must
      // neither fold it nor drop it; epoch 5 commits while the fold runs
      val committed =
        if (withCommitted) Some(Seq(0L, 5L).toDF("epoch")) else None
      val delta = committed.fold(DeltaStore.read(spark, store))(c =>
        DeltaStore.read(spark, store).join(c, Seq("epoch"), "left_semi"))
      val folded = DeltaStore.fold(spark, store, s"$d/idx", "t", "k",
          committed)(DeltaStore.latestDocs(delta, "k")) { merged =>
        DeltaStore.append(rows(Seq(5L), "late"), store, 5L)
        merged
      }
      assert(folded)
      val wantBase = if (withCommitted) Set(1L, 2L, 3L) else Set(1L, 2L, 3L, 4L)
      assert(keys(s"$d/idx/t") == wantBase, s"committed=$withCommitted")
      val wantStore =
        if (withCommitted) Set((4L, 1L), (5L, 5L)) else Set((5L, 5L))
      assert(keyEpochs(store) == wantStore, s"committed=$withCommitted")
      // the base took epoch 0's re-upload of key 2
      assert(spark.read.parquet(s"$d/idx/t").filter(col("k") === 2L)
        .select("v").as[String].collect().toSeq == Seq("e0"))
    }
  }

  test("a fold of an empty delta writes nothing") {
    val d = tmp()
    rows(Seq(1L), "base").write.parquet(s"$d/idx/t")
    DeltaStore.append(rows(Seq(2L), "e0"), s"$d/store", 0L)
    val folded = DeltaStore.fold(spark, s"$d/store", s"$d/idx", "t", "k")(
      DeltaStore.latest(spark, s"$d/store", "k").limit(0))(identity)
    assert(!folded)
    assert(keys(s"$d/idx/t") == Set(1L))
    assert(keyEpochs(s"$d/store") == Set((2L, 0L)))
  }

  test("the trigger fires at compactAt·base and recounts the base after a fold") {
    val d = tmp()
    val (base, store) = (s"$d/idx/t", s"$d/store")
    rows(1L to 8L, "base").write.parquet(base)
    // a row left in the store before this (re)start counts in the first
    // delta count, as does the current batch's append
    DeltaStore.append(rows(Seq(100L), "old"), store, 0L)
    val trigger = new DeltaStore.Trigger(spark, 0.5, base, store)
    var folds = 0
    def batch(epoch: Long, ks: Seq[Long]): Unit = {
      DeltaStore.append(rows(ks, s"e$epoch"), store, epoch)
      trigger.afterAppend(ks.size) {
        folds += 1
        rows(ks.map(_ + 1000L) ++ Seq(2000L, 2001L), "folded")
          .write.mode("append").parquet(base)
        DeltaStore.truncateStore(spark, store)
      }
    }
    batch(1L, Seq(101L, 102L)) // delta 3 < 0.5·8
    assert(folds == 0)
    batch(2L, Seq(103L)) // delta 4 = 0.5·8: fires
    assert(folds == 1)
    assert(keys(base).size == 11)
    batch(3L, (104L to 108L)) // delta 5 < 0.5·11 after the recount
    assert(folds == 1)
    batch(4L, Seq(109L)) // delta 6 ≥ 5.5
    assert(folds == 2)
  }
}
