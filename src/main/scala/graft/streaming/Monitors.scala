package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.WorkItem

/** Structured Streaming monitors (SURVEY.md §2.9): the reference's
  * sleep-loop pollers (`monitor_task` `code/manager.py:209-244`,
  * `monitor_nestedTasks` `code/manager.py:915-939`) become continuous
  * streaming aggregations — no client loop, no repeated GSI scans; each
  * micro-batch incrementally updates the same aggregation state.
  */
object Monitors {

  /** A2 `monitor_task` as a stream: per-state counts over the item stream,
    * `outputMode(complete)` — each trigger emits the current snapshot
    * (exactly the reference's per-iteration `{todo,locked,done}` dict).
    */
  def stateCounts(itemsStream: DataFrame): DataFrame =
    itemsStream.groupBy(col("itemState"))
      .agg(count(lit(1)).as("n"), count(col("nestedTaskCount")).as("n_nested"))

  /** A4 `monitor_nestedTasks` as a stream: the progress histogram (A3
    * bucket logic) continuously maintained; counts only, as the reference's
    * monitor variant drops the id lists.
    */
  def progressHistogram(itemsStream: DataFrame): DataFrame =
    graft.queries.StateQueries.progressBucketed(itemsStream)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Open the item table as a stream (file source over the store path). */
  def itemStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(WorkItem.schema).parquet(path)

  /** The reference monitor's retained time-series (`monitor_task` builds
    * `{Iteration_0: {...}, Iteration_1: {...}}` across its poll loop,
    * `code/manager.py:209-244`): each trigger APPENDS its full snapshot to
    * `historyPath`, tagged `Iteration_<batchId>`. Batch ids persist in the
    * checkpoint, so a restarted monitor keeps numbering where it left off —
    * the series survives the process, which the reference's in-memory dict
    * doesn't. History is plain partitioned parquet: queryable mid-run, and
    * the append per trigger is a few aggregate rows, not the input.
    */
  def runWithHistory(df: DataFrame, historyPath: String, checkpoint: String,
      mode: String = "complete"): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        // idempotent under foreachBatch's at-least-once replay: each batch
        // OWNS its iteration directory, so a post-write/pre-commit crash
        // replays into an overwrite instead of a duplicate append
        batch
          .withColumn("iteration", concat(lit("Iteration_"), lit(batchId)))
          .write.mode("overwrite")
          .parquet(s"$historyPath/iteration_id=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }

  /** The accumulated Iteration_i series written by [[runWithHistory]]. */
  def history(spark: SparkSession, historyPath: String): DataFrame =
    spark.read.parquet(historyPath)

  /** Drive a monitor synchronously into an in-memory table (test/ops
    * harness): returns the running query after one full pass.
    */
  def runToMemory(df: DataFrame, name: String, mode: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }
}
