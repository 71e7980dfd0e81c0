package graft.exec

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.store.{Importer, ItemStore}

class StreamingRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("streaming dispatcher claims, executes and persists each micro-batch (T1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-srun").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("S1|g|seq 2|")
    w.println("N1|g|seq|3,1")
    w.close()
    val store = dir.toPath.resolve("store").toString
    val results = dir.toPath.resolve("results").toString
    val registry = dir.toPath.resolve("registry").toString
    ItemStore.save(Importer.importFile(spark, f.getAbsolutePath, "|", Some(",")), store)

    val q = StreamingRunner.claimedDispatcher(
      StreamingRunner.itemStream(spark, store), results, registry, "worker-A")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.toPath.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val out = ItemStore.load(spark, results)
    val states = out.select($"itemID", $"itemState").as[(String, String)].collect().toMap
    assert(states === Map("S1" -> "done", "N1" -> "done"))
    assert(out.filter($"itemID" === "N1").select($"logLength").as[Long].head() === 2L)
    val stdout = out.filter($"itemID" === "S1")
      .select(element_at($"log", "single").getField("stdout")).as[String].head()
    assert(stdout === "1\n2\n")
  }

  test("queue connector streams micro-batches: state-dir pruning in the plan, claim semantics per batch") {
    import graft.store.connector.WorkQueueSource
    val dir = java.nio.file.Files.createTempDirectory("graft-qstream").toFile
    val queue = new java.io.File(dir, "queue").toString
    val registry = new java.io.File(dir, "registry").toString
    def rows(ids: (String, String)*) = ids.toSeq.toDF("itemID", "itemState")
      .selectExpr("itemID", "itemID AS taskID", "itemState",
        "CAST(null AS LONG) AS logLength", "CAST(null AS LONG) AS nestedTaskCount")
    // two appends → at least two todo data files; a done file is POISONED
    // (malformed row): with state-dir pruning it is never listed, never
    // opened — the stream would throw otherwise
    WorkQueueSource.append(rows("A" -> "todo", "B" -> "todo").coalesce(1), queue)
    WorkQueueSource.append(rows("C" -> "todo").coalesce(1), queue)
    val doneDir = new java.io.File(queue, "itemState=done"); doneDir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(doneDir, "poison.csv").toPath, "only,three,fields\n")

    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = StreamingRunner.queueStream(spark, queue,
        maxFilesPerTrigger = Some(1), state = Some("todo"))
      .filter($"itemState" === "todo") // residual guard; pruning is source-side
      .select($"itemID")
      .writeStream
      .option("checkpointLocation", new java.io.File(dir, "ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // the claimedDispatcher shape: claim each micro-batch's items
        // through the connector's conditional write, then record the wins
        if (!batch.isEmpty) {
          batches.incrementAndGet()
          batch.select($"itemID",
              concat(lit(s"lock-$batchId-"), $"itemID").as("lockID"),
              lit("stream-worker").as("instanceID"),
              lit(null).cast("string").as("expectedLockID"),
              lit(null).cast("long").as("leaseMillis"))
            .write.format("graft.store.connector.WorkQueueSource")
            .option("path", registry).mode("append").save()
          batch.collect().foreach(r => seen.add(r.getString(0)))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // the streaming source itself reports the pushed state: unselected
      // state dirs never enter an offset (the GSI key-condition analog)
      val desc = q.lastProgress.sources.head.description
      assert(desc.contains("pushedState=Some(todo)"),
        s"state pushdown missing from streaming source: $desc")
      // live growth: a file appended while the query runs arrives too
      WorkQueueSource.append(rows("D" -> "todo").coalesce(1), queue)
      q.processAllAvailable()
    } finally q.stop()

    import scala.collection.JavaConverters._
    assert(seen.asScala === Set("A", "B", "C", "D"))
    assert(batches.get() >= 3, s"maxFilesPerTrigger=1 over 3+ files must yield 3+ batches, got ${batches.get()}")
    // every item claimed exactly once across the run (accepted, no rejects)
    val claims = WorkQueueSource.claimResults(spark, registry)
    assert(claims.filter($"status" === "accepted").count() === 4)
    assert(claims.filter($"status" === "rejected").count() === 0)
  }

  test("commitBatch is exactly-once under replay and partial-commit crashes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eos").toFile
    val store = dir.toPath.resolve("results").toString
    def batch(n: Int) = spark.range(n)
      .selectExpr("cast(id as string) as itemID", "'done' as itemState")
    def count() = spark.read.parquet(store).count()

    assert(ItemStore.commitBatch(batch(5), store, 0L))
    assert(count() === 5)
    // straight replay (crash after marker): short-circuits, no second copy
    assert(!ItemStore.commitBatch(batch(5), store, 0L))
    assert(count() === 5)
    // crash BETWEEN file publish and marker: delete the marker to simulate,
    // replay must converge to one copy (deterministic names replace, not add)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store, "_graft_commits/batch-0"), false)
    assert(ItemStore.commitBatch(batch(5), store, 0L))
    assert(count() === 5)
    // a NEW batch still appends
    assert(ItemStore.commitBatch(batch(3), store, 1L))
    assert(count() === 8)
  }

  test("dispatcher replay of a committed micro-batch appends outcomes exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("R1|g|seq 2|")
    w.close()
    val store = dir.toPath.resolve("store").toString
    val results = dir.toPath.resolve("results").toString
    val registry = dir.toPath.resolve("registry").toString
    ItemStore.save(Importer.importFile(spark, f.getAbsolutePath, "|", Some(",")), store)

    val q = StreamingRunner.claimedDispatcher(
      StreamingRunner.itemStream(spark, store), results, registry, "worker-A")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.toPath.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(ItemStore.load(spark, results).count() === 1)

    // simulate the at-least-once replay foreachBatch performs after a
    // crash between the outcome write and the checkpoint commit: invoke the
    // same micro-batch body again with the same batch key (instance-scoped
    // batch 0)
    val replayed = ItemStore.load(spark, store)
    if (!ItemStore.batchCommitted(spark, results, "worker-A-0")) {
      val (updated, outcomes) = Runner.processItems(replayed)
      try ItemStore.commitBatch(
        updated.select(graft.model.WorkItem.schema.fieldNames.map(col): _*), results,
        "worker-A-0")
      finally { outcomes.unpersist(); () }
    }
    val out = ItemStore.load(spark, results)
    assert(out.count() === 1, "replayed batch must not duplicate outcomes")
    assert(out.select($"itemState").as[String].head() === "done")
  }

  test("claimed dispatcher suppresses an item whose lease was taken over mid-batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-steal").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("Slow|g|sleep 2|")
    w.close()
    val store = dir.toPath.resolve("store").toString
    val results = dir.toPath.resolve("results").toString
    val registry = dir.toPath.resolve("registry").toString
    ItemStore.save(Importer.importFile(spark, f.getAbsolutePath, "|", Some(",")), store)

    // worker A dispatches with a short lease; its script sleeps 2s
    val q = StreamingRunner.claimedDispatcher(
      StreamingRunner.itemStream(spark, store), results, registry, "worker-A",
      leaseMillis = Some(600L))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.toPath.resolve("ckpt").toString)
      .start()
    val aDone = scala.concurrent.Future(q.processAllAvailable())(
      scala.concurrent.ExecutionContext.global)

    // wait until A holds the lock, then worker B takes the item over while
    // A's script is still running. (The CAS swap below lands B in exactly
    // the state an expired-lease takeover produces — the expiry CAS itself
    // is covered at the connector level in WorkQueueSourceSpec; here we
    // verify the DISPATCHER honors the loss.) A's next heartbeat renewal
    // fails, the item joins A's lost set, and A must suppress its result.
    val deadline = System.currentTimeMillis() + 30000
    var aLock: Option[String] = None
    while (aLock.isEmpty && System.currentTimeMillis() < deadline) {
      aLock = graft.store.connector.WorkQueueClaimWrite.lockState(registry, "Slow")
        .collect { case (l, _, _) if l.startsWith("lock-worker-A-") => l }
      if (aLock.isEmpty) Thread.sleep(25)
    }
    assert(aLock.nonEmpty, "worker A never claimed the item")
    Seq(("Slow", "b-lock", "worker-B", aLock.get))
      .toDF("itemID", "lockID", "instanceID", "expectedLockID")
      .write.format("graft.store.connector.WorkQueueSource")
      .option("path", registry).mode("append").save()

    try scala.concurrent.Await.result(aDone, scala.concurrent.duration.Duration(120, "s"))
    finally q.stop()

    // A's late result is suppressed: the outcome table has no row for the
    // item A lost (B, the new holder, is responsible for its outcome)
    val afterA = ItemStore.load(spark, results)
    assert(afterA.filter($"itemID" === "Slow").isEmpty,
      "worker A's result for a lost lease must be suppressed")
    // the registry shows B as the holder, and A did NOT pin it non-expiring
    val lock = graft.store.connector.WorkQueueClaimWrite.lockState(registry, "Slow")
    assert(lock.exists(_._1 === "b-lock"), s"registry holder after takeover: $lock")

    // worker B completes the item; exactly B's outcome lands in the table
    ItemStore.append(
      ItemStore.load(spark, store).withColumn("itemState", lit("done"))
        .select(graft.model.WorkItem.schema.fieldNames.map(col): _*), results)
    val out = ItemStore.load(spark, results).filter($"itemID" === "Slow")
    assert(out.count() === 1)
    assert(out.select($"itemState").as[String].head() === "done")
  }

  test("claimed dispatcher releases budget-skipped items' locks instead of " +
      "pinning them (r15 VERDICT #1, locks-mode twin)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lockbudget").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("K1|g|echo ran|")
    w.println("K2|g|echo ran|")
    w.close()
    val store = dir.toPath.resolve("store").toString
    val results = dir.toPath.resolve("results").toString
    val registry = dir.toPath.resolve("registry").toString
    ItemStore.save(Importer.importFile(spark, f.getAbsolutePath, "|", Some(",")), store)

    // zero budget, NO lease: the old behavior pinned every won lock
    // non-expiring after commit — wedging the skipped items until a
    // manual reset. Now a skipped item's lock must be RELEASED.
    val q = StreamingRunner.claimedDispatcher(
      StreamingRunner.itemStream(spark, store), results, registry, "worker-K",
      Runner.RunConfig(budgetSeconds = Some(0.0)))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", dir.toPath.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // committed rows say todo; the registry holds NO locks for them
    val out = ItemStore.load(spark, results)
    assert(out.filter($"itemState" === "todo").count() === 2)
    assert(graft.store.connector.WorkQueueClaimWrite.lockState(registry, "K1").isEmpty,
      "budget-skipped item's lock must be released")
    assert(graft.store.connector.WorkQueueClaimWrite.lockState(registry, "K2").isEmpty)

    // a second dispatcher (fresh checkpoint, no budget) claims and runs
    // them — no wedge, exactly-once outcomes per surviving run
    val q2 = StreamingRunner.claimedDispatcher(
      StreamingRunner.itemStream(spark, store), s"$dir/results2", registry,
      "worker-L")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", dir.toPath.resolve("ckpt2").toString)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val out2 = ItemStore.load(spark, s"$dir/results2")
    assert(out2.count() === 2)
    assert(out2.filter($"itemState" === "done").count() === 2)
    // completed items' locks pin non-expiring (finished must look finished)
    val k1 = graft.store.connector.WorkQueueClaimWrite.lockState(registry, "K1")
    assert(k1.exists(_._1.startsWith("lock-worker-L-")), s"got $k1")
  }

  test("claimed dispatcher skips items an external worker already holds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-srun2").toFile
    val f = new java.io.File(dir, "items.txt")
    val w = new java.io.PrintWriter(f)
    w.println("itemID|taskID|TaskScript|TaskArgs")
    w.println("Mine|g|seq 2|")
    w.println("Theirs|g|seq 9|")
    w.close()
    val store = dir.toPath.resolve("store").toString
    val results = dir.toPath.resolve("results").toString
    val registry = dir.toPath.resolve("registry").toString
    ItemStore.save(Importer.importFile(spark, f.getAbsolutePath, "|", Some(",")), store)

    // an external worker claims "Theirs" first through the same registry
    Seq(("Theirs", "external-lock", "other-host", null: String))
      .toDF("itemID", "lockID", "instanceID", "expectedLockID")
      .write.format("graft.store.connector.WorkQueueSource")
      .option("path", registry).mode("append").save()

    val q = StreamingRunner.claimedDispatcher(
      StreamingRunner.itemStream(spark, store), results, registry, "worker-1",
      leaseMillis = Some(60000L))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.toPath.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    // the dispatcher's claims carry a lease while scripts run, but a
    // COMPLETED item pins back to non-expiring — finished work must look
    // finished, not crashed, or a replayed claim would take it over after
    // one lease and re-execute it
    val mineState = graft.store.connector.WorkQueueClaimWrite.lockState(registry, "Mine")
    assert(mineState.map(_._3) === Some(0L),
      s"completed item's lock must pin non-expiring: $mineState")
    assert(mineState.exists(_._1.startsWith("lock-worker-1-")),
      s"completed item still held by the dispatcher: $mineState")
    val theirsState = graft.store.connector.WorkQueueClaimWrite.lockState(registry, "Theirs")
    assert(theirsState.map(_._3) === Some(0L))

    // only the item this dispatcher won executed; the external item is
    // untouched (it belongs to the other worker)
    val out = ItemStore.load(spark, results)
    assert(out.select($"itemID").as[String].collect().toSeq === Seq("Mine"))
    assert(out.select($"itemState").as[String].head() === "done")
    // the registry still shows the external holder
    val holders = graft.store.connector.WorkQueueSource.claimResults(spark, registry)
      .filter($"status" === "accepted")
      .select($"itemID", $"lockID").as[(String, String)].collect().toMap
    assert(holders("Theirs") === "external-lock")
    assert(holders("Mine").startsWith("lock-worker-1-"))
  }
}
