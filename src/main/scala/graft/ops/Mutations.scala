package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's mutation surface M1-M10 (SURVEY.md §2.8) as pure,
  * whole-table Dataset transforms.
  *
  * The reference mutates one DynamoDB key at a time with hand-built
  * `UpdateExpression` strings (`SET TaskScript.#key.Status = ...`,
  * `REMOVE Log.#key`, `ADD Log_Length 1`) — one network round trip per item
  * per key (`code/manager.py:465-837`, `code/modifier.py:219-249`). Spark is
  * functional: each verb re-emits the whole map column via the higher-order
  * map functions (`transform_values`, `map_filter`, `map_concat`) in ONE
  * codegen'd pass over the table — no per-key round trips, and `reset_AllNests`
  * (which the reference does as query-keys-then-N-updates, M9) collapses into
  * the same single pass. Persisting a mutation = overwrite/MERGE of the
  * affected `itemState` partitions ([[graft.store.ItemStore]]).
  *
  * All verbs take a row predicate instead of the reference's Python id
  * lists.
  */
object Mutations {

  private val initialFields: Map[String, Column] = Map(
    "lockID" -> lit(null).cast("string"),
    "instanceID" -> lit(null).cast("string"),
    "lockDate" -> lit(null).cast("timestamp"),
    "doneDate" -> lit(null).cast("timestamp"),
    "errorDate" -> lit(false),
    "log" -> map_from_entries(array().cast(
      "array<struct<key:string,value:struct<status:string,stdout:string,stderr:string>>>")),
    "logLength" -> lit(0L))

  /** Apply column updates to rows matching `pred`, evaluating `pred` against
    * the PRE-mutation row: the predicate is materialized once before any
    * column is overwritten (else `pred = itemState === 'locked'` would stop
    * matching as soon as the fold rewrites `itemState`).
    */
  private def applyWhen(items: DataFrame, pred: Column, updates: Map[String, Column]): DataFrame =
    updates.foldLeft(items.withColumn("__pred", pred)) { case (df, (name, value)) =>
      df.withColumn(name, when(col("__pred"), value).otherwise(col(name)))
    }.drop("__pred")

  /** M7 `reset_itemState` (`code/manager.py:465-549`): re-initialize matching
    * items to `toState` — lock fields nulled; with `resetTasks` also M9
    * `reset_AllNests` (`code/manager.py:650-686`): every nested task back to
    * `todo` plus full log/counter wipe.
    *
    * Semantic delta vs the reference, on purpose: the reference's M7 zeroes
    * `Log_Length` even when nested task statuses stay `done`, which breaks
    * the `Log_Length ≡ done-task-count` invariant and wedges the item in
    * `Wall_Time_Exceeded` on replay (skip-done replay adds only the new
    * completions). Here a partial reset (resetTasks=false) keeps log +
    * counter for nested items — requeue-the-remainder semantics — and only
    * a full reset wipes them.
    */
  def resetItems(items: DataFrame, pred: Column, toState: String = "todo",
      resetTasks: Boolean = false): DataFrame = {
    val hasNestedCol = items.columns.contains("nestedTasks")
    val marked = items.withColumn("__rp", pred)
    val withTasks =
      if (!resetTasks || !hasNestedCol) marked
      else marked.withColumn("nestedTasks",
        when(col("__rp") && col("nestedTasks").isNotNull,
          transform_values(col("nestedTasks"),
            (_, v) => struct(lit("todo").as("status"), v.getField("script").as("script"))))
          .otherwise(col("nestedTasks")))
    // nested items keep log/logLength on a partial reset (invariant above);
    // single items (and full resets) get the reference's full wipe
    val isNested =
      if (hasNestedCol) col("nestedTasks").isNotNull else lit(false)
    val wipePred =
      if (resetTasks) col("__rp") else col("__rp") && !isNested
    val unlocked = applyWhen(withTasks, col("__rp"),
      (initialFields -- Seq("log", "logLength")) + ("itemState" -> lit(toState)))
    applyWhen(unlocked, wipePred,
      Map("log" -> initialFields("log"), "logLength" -> initialFields("logLength")))
      .drop("__rp")
  }

  /** M7/M9 at scale: the ids arrive as a DataFrame (column `itemID`) — e.g.
    * a parsed restart manifest (`code/manager.py:113-119` read_jsonFile →
    * `code/manager.py:465-549` reset_itemState over an id list). A broadcast
    * left join marks the matching rows; everything else is [[resetItems]].
    * (Manifests are user-curated restart lists — small by construction; for
    * an id set too big to broadcast, drop the hint and AQE shuffle-joins.)
    */
  def resetItemsJoin(items: DataFrame, ids: DataFrame, toState: String = "todo",
      resetTasks: Boolean = false): DataFrame =
    resetItems(
      items.join(
        broadcast(ids.select(col("itemID")).distinct()
          .withColumn("__in_manifest", lit(true))),
        Seq("itemID"), "left"),
      col("__in_manifest").isNotNull, toState, resetTasks)
      .drop("__in_manifest")

  /** M8 `updateItemStates` (`code/manager.py:248-274`): bulk state flip only. */
  def updateItemStates(items: DataFrame, pred: Column, toState: String): DataFrame =
    applyWhen(items, pred, Map("itemState" -> lit(toState)))

  /** M1 `updateNestedItemState` (`code/manager.py:553-598`): one task key back
    * to `todo` + item unlocked; M2: its log entry removed.
    */
  def resetNestedTask(items: DataFrame, pred: Column, taskKey: String): DataFrame = {
    val marked = items.withColumn("__p", pred)
    val reset = applyWhen(marked, col("__p"),
      initialFields - "log" - "logLength" + ("itemState" -> lit("todo")))
    reset
      .withColumn("nestedTasks",
        when(col("__p") && col("nestedTasks").isNotNull,
          transform_values(col("nestedTasks"),
            (k, v) => when(k === taskKey,
              struct(lit("todo").as("status"), v.getField("script").as("script")))
              .otherwise(v)))
          .otherwise(col("nestedTasks")))
      // M2 REMOVE Log.#taskKey (`code/manager.py:587-594`)
      .withColumn("log",
        when(col("__p") && col("log").isNotNull,
          map_filter(col("log"), (k, _) => k =!= taskKey))
          .otherwise(col("log")))
      // keep the Log_Length ≡ done-task-count invariant (modifier.py:240-249)
      .withColumn("logLength",
        when(col("__p") && col("nestedTasks").isNotNull,
          size(map_filter(col("nestedTasks"), (_, v) => v.getField("status") === "done"))
            .cast("long"))
          .otherwise(col("logLength")))
      .drop("__p")
  }

  /** M3 `delete_nestedTasks` (`code/manager.py:727-793`): drop the named task
    * keys; an EMPTY key list drops every task — the reference's destructive
    * default, preserved deliberately.
    */
  def deleteNestedTasks(items: DataFrame, pred: Column, taskKeys: Seq[String]): DataFrame = {
    val keep: (Column, Column) => Column =
      if (taskKeys.isEmpty) (_, _) => lit(false)
      else (k, _) => !k.isin(taskKeys: _*)
    items.withColumn("nestedTasks",
      when(pred && col("nestedTasks").isNotNull, map_filter(col("nestedTasks"), keep))
        .otherwise(col("nestedTasks")))
      .withColumn("log",
        when(pred && col("log").isNotNull, map_filter(col("log"), keep))
          .otherwise(col("log")))
  }

  /** M4 `updateNestedItem(itemImport)` (`code/modifier.py:219-249`): record a
    * finished task — status done, log entry written, `Log_Length` += 1 (the
    * reference's atomic ADD). Only applies where the key exists and is still
    * `todo`, matching the executor's skip-done replay guard (`runner.py:101-105`).
    */
  def recordTaskResult(items: DataFrame, pred: Column, taskKey: String,
      stdout: Column, stderr: Column): DataFrame = {
    val hasTodoKey = col("nestedTasks").isNotNull &&
      element_at(col("nestedTasks"), taskKey).isNotNull &&
      element_at(col("nestedTasks"), taskKey).getField("status") === "todo"
    // materialized BEFORE nestedTasks is rewritten — the logLength update
    // below must see the pre-mutation todo status
    items
      .withColumn("__p", pred && hasTodoKey)
      .withColumn("log",
        when(col("__p"), map_concat(
          map_filter(col("log"), (k, _) => k =!= taskKey),
          map(lit(taskKey),
            struct(lit("Done").as("status"), stdout.as("stdout"), stderr.as("stderr")))))
          .otherwise(col("log")))
      .withColumn("nestedTasks",
        when(col("__p"), transform_values(col("nestedTasks"),
          (k, v) => when(k === taskKey,
            struct(lit("done").as("status"), v.getField("script").as("script")))
            .otherwise(v)))
          .otherwise(col("nestedTasks")))
      .withColumn("logLength",
        when(col("__p"), col("logLength") + 1L).otherwise(col("logLength")))
      .drop("__p")
  }

  /** M5 `map_keys` listing (`code/manager.py:675,745`). */
  def listTaskKeys(items: DataFrame): DataFrame =
    items.filter(col("nestedTasks").isNotNull)
      .select(col("itemID"), explode(map_keys(col("nestedTasks"))).as("taskKey"))

  /** M10 `delete_singleItem` / list variant (`code/manager.py:690-723`). */
  def deleteItems(items: DataFrame, pred: Column): DataFrame = items.filter(!pred)

  /** J2 log↔store reconciliation (`managing-item-logs.py:150-204`): upsert
    * incoming parsed-log rows into an existing table keyed by `keys`; the
    * reference's UNIQUE-violation-means-already-loaded means existing rows
    * win. MERGE INTO shape without a transactional store.
    *
    * ONE exchange: union both sides with a priority tag and keep each key
    * group's minimum-priority rows (all existing rows; incoming rows only
    * where no existing key matches). The anti-join formulation paid a
    * second shuffle for the existing side's key-distinct; the window pays
    * only the shared partition-by-keys exchange. Duplicate keys on either
    * side behave identically to the anti-join form (every existing
    * duplicate kept; every incoming duplicate kept when the key is new).
    */
  def upsertByKey(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    existing.withColumn("__pri", lit(0))
      .unionByName(incoming.withColumn("__pri", lit(1)))
      .withColumn("__min_pri", min(col("__pri")).over(w))
      .filter(col("__pri") === col("__min_pri"))
      .drop("__pri", "__min_pri")
  }

  /** Exploded post-mutation task view (for oracle checks and exports). */
  def explodeTasks(items: DataFrame): DataFrame =
    items.filter(col("nestedTasks").isNotNull)
      .select(col("itemID"), col("logLength"),
        explode(col("nestedTasks")).as(Seq("taskKey", "task")))
      .select(col("itemID"), col("taskKey"),
        col("task.status").as("status"), col("task.script").as("script"),
        col("logLength"))
}
