package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.StateQueries
import graft.store.{DerivedItems, ItemStore}

class MonitorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val storePath = {
    val p = java.nio.file.Files.createTempDirectory("graft-stream").toString
    ItemStore.save(DerivedItems.items(spark, sf0001)
      .withColumn("nestedTasks",
        lit(null).cast("map<string,struct<status:string,script:string>>"))
      .select(graft.model.WorkItem.schema.fieldNames.map(col): _*), p)
    p
  }

  test("streaming state counts equal the batch itemCounter snapshot (A2)") {
    val q = Monitors.runToMemory(
      Monitors.stateCounts(Monitors.itemStream(spark, storePath)),
      "state_counts", "complete")
    try {
      val streamed = spark.table("state_counts")
        .select($"itemState", $"n").as[(String, Long)].collect().toMap
      val batch = StateQueries.itemCounter(ItemStore.load(spark, storePath))
        .select($"itemState", $"n").as[(String, Long)].collect().toMap
      assert(streamed === batch)
      assert(streamed.values.sum === 1500L)
    } finally q.stop()
  }

  test("streaming progress histogram equals the batch buckets (A4)") {
    val q = Monitors.runToMemory(
      Monitors.progressHistogram(Monitors.itemStream(spark, storePath)),
      "progress_hist", "complete")
    try {
      val streamed = spark.table("progress_hist")
        .select($"bucket", $"n").as[(String, Long)].collect().toMap
      val batch = StateQueries.progressHistogram(ItemStore.load(spark, storePath))
        .select($"bucket", $"n").as[(String, Long)].collect().toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("monitor history retains an Iteration_i snapshot per trigger (manager.py:209-244)") {
    val hist = java.nio.file.Files.createTempDirectory("graft-hist").toString + "/h"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hist-ckpt").toString
    // one file per trigger forces multiple micro-batches over the store's
    // part files -> several iterations in a single run
    val stream = spark.readStream
      .schema(graft.model.WorkItem.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(storePath)
    val q = Monitors.runWithHistory(Monitors.stateCounts(stream), hist, ckpt)
    try {
      val history = Monitors.history(spark, hist).cache()
      val iterations = history.select($"iteration_id").distinct().as[Long].collect().sorted
      assert(iterations.length >= 2, s"retained ${iterations.mkString(",")}")
      assert(history.select($"iteration").distinct().count() === iterations.length)
      // the LAST iteration's snapshot is the full batch itemCounter answer
      val last = history.filter($"iteration_id" === iterations.max)
        .select($"itemState", $"n").as[(String, Long)].collect().toMap
      val batch = StateQueries.itemCounter(ItemStore.load(spark, storePath))
        .select($"itemState", $"n").as[(String, Long)].collect().toMap
      assert(last === batch)
      // earlier iterations saw strictly fewer rows (history, not overwrites)
      val first = history.filter($"iteration_id" === iterations.min)
        .select(sum($"n")).as[Long].head()
      assert(first < last.values.sum)
      history.unpersist()
    } finally q.stop()

    // a restarted monitor continues the series from the checkpoint
    val q2 = Monitors.runWithHistory(
      Monitors.stateCounts(spark.readStream.schema(graft.model.WorkItem.schema)
        .option("maxFilesPerTrigger", "1").parquet(storePath)), hist, ckpt)
    q2.stop()
    val after = Monitors.history(spark, hist)
    assert(after.select($"iteration_id").distinct().count() >= 2)
  }
}
