package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.exec.StreamingRunner
import graft.store.{ItemStore, VersionedTable}
import graft.store.connector.{WorkQueueLedger, WorkQueueSource}

/** `queue_contended`: [[Dispatchers]] ledger dispatchers drain one connector
  * queue of scriptless items with monotone ids, one queue file per trigger.
  * Every dispatcher streams every file and they race to claim its items
  * through the shared ledger, so claim CAS, done-set and small
  * VersionedTable commits do the work.
  *
  * A round drains a fresh copy of the seeded queue; rounds repeat until the
  * run's seconds are spent. Checked after the rounds: result rows == done
  * ids == items (each id exactly once) and the ledger is empty.
  */
object QueueContended {
  val Dispatchers = 4
  val Files = 4
  /** One round's time hangs on one claim race, so a run measures at least two. */
  val MinRounds = 2
  val PerFile = 250

  final case class Round(dir: String, drainS: Double, waves: Seq[StreamingQueryProgress],
      traced: Boolean, casRetries: Long, gcS: Double)

  def generate(spark: SparkSession, seed: Long, dir: String, files: Int): Long = {
    // monotone ids from a seeded base: file k holds the k-th id range
    val base = new scala.util.Random(seed).nextInt(1000000).toLong * 1000L
    val n = files.toLong * PerFile
    val items = spark.range(n).select(
      format_string("item-%012d", col("id") + base).as("itemID"),
      format_string("task-%06d", col("id") % 997).as("taskID"),
      lit("todo").as("itemState"), lit(0L).as("logLength"),
      lit(null).cast("long").as("nestedTaskCount"))
      .repartitionByRange(files, col("itemID"))
    WorkQueueSource.append(items, dir, "parquet")
    n
  }

  /** Drain `queue` with the dispatchers; returns (seconds, wave progress). */
  def drain(spark: SparkSession, queue: String, base: String): (Double, Seq[StreamingQueryProgress]) = {
    val t0 = System.nanoTime()
    val qs = (0 until Dispatchers).map { k =>
      StreamingRunner.ledgerDispatcher(
          StreamingRunner.queueWorkItems(StreamingRunner.queueStream(spark, queue, Some(1))),
          s"$base/results-$k", s"$base/ledger", s"d$k")
        .option("checkpointLocation", s"$base/ckpt-$k").start()
    }
    try qs.foreach(_.processAllAvailable())
    finally qs.foreach(_.stop())
    val s = (System.nanoTime() - t0) / 1e9
    (s, qs.flatMap(_.recentProgress).filter(_.numInputRows > 0))
  }

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new File(dst, f.getName)))
    } else { java.nio.file.Files.copy(src.toPath, dst.toPath); () }

  /** Exactly-once accounting of one drained round: items neither missing
    * nor duplicated in the results and the done set, and nothing left
    * claimed in the ledger.
    */
  def check(spark: SparkSession, base: String, n: Long): Long = {
    val results = (0 until Dispatchers).map(k => s"$base/results-$k")
      .filter(p => new File(p).exists()).map(p => ItemStore.load(spark, p).select("itemID"))
    val all = results.reduce(_ unionByName _)
    val rows = all.count()
    val distinctRows = all.distinct().count()
    val done = WorkQueueLedger.doneEntries(spark, s"$base/ledger_done")
    val doneRows = done.count()
    val doneDistinct = done.distinct().count()
    val left = WorkQueueLedger.entries(spark, s"$base/ledger").count()
    math.abs(rows - n) + (rows - distinctRows) + math.abs(doneRows - n) +
      (doneRows - doneDistinct) + left
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    Trace.install(spark)
    if (ctx.trace) Trace.startSampler(Thread.currentThread())
    // set-up: generate the seeded queue three times (median), then one
    // warm-up round on a small queue
    val gens = (0 until 3).map(i => Stats.time(generate(spark, ctx.seed, ctx.dir(s"gen-$i"), Files)))
    val n = gens.head._1
    val template = new File(ctx.work, "gen-0")
    val (_, warmS) = Stats.time {
      val w = ctx.dir("warm")
      generate(spark, ctx.seed + 1, s"$w/queue", 1)
      drain(spark, s"$w/queue", w)
    }
    val setupS = ctx.sessionS + Stats.median(gens.map(_._2)) + warmS

    var liveHeap = 0.0
    val rounds = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // traced runs alternate untraced and traced rounds (at least three, so
    // the traced one sits between two untraced ones) and read the overhead
    // from the same process
    while (rounds.size < MinRounds || elapsed < ctx.seconds || (ctx.trace && rounds.size < 3)) {
      val r = rounds.size
      val base = ctx.dir(s"round-$r")
      copyTree(template, new File(base, "queue"))
      val tracedRound = ctx.trace && r % 2 == 1
      Trace.on = tracedRound
      Trace.cycle = r
      val cas0 = WorkQueueLedger.claimRetries.sum()
      val gc0 = Stats.gcSeconds()
      val (s, waves) = drain(spark, s"$base/queue", base)
      Trace.on = false
      rounds += Round(base, s, waves, tracedRound,
        WorkQueueLedger.claimRetries.sum() - cas0, Stats.gcSeconds() - gc0)
      val heap = Stats.liveHeapMb()
      if (r == 0) liveHeap = heap
    }
    val failed = rounds.map(r => check(spark, r.dir, n)).sum
    val res = new Result(n * rounds.size, failed)

    val timed = if (ctx.trace) rounds.filterNot(_.traced) else rounds
    val waveMs = timed.flatMap(_.waves).map(_.durationMs.get("triggerExecution").toDouble)
    val tail = Stats.tailPct(waveMs.size)
    val thr = n * timed.size / timed.map(_.drainS).sum
    val p50 = Stats.median(waveMs.toSeq)
    val tailMs = Stats.percentile(waveMs.toSeq, tail)
    val cycle = Stats.median(timed.map(_.drainS).toSeq)
    val rss = Stats.peakRssMb()
    res.e2e ++= Seq("setup_s" -> (setupS, "s"), "throughput" -> (thr, "1/s"),
      "step_mean_ms" -> (Stats.mean(waveMs.toSeq), "ms"),
      "cycle_s" -> (cycle, "s"), "live_heap_mb" -> (liveHeap, "MB"))
    res.named ++= Seq("setup_s" -> (setupS, "s"), "failed_frac" -> (failed.toDouble / res.attempted, "frac"),
      "peak_rss_mb" -> (rss, "MB"), "live_heap_mb" -> (liveHeap, "MB"), "drain_items_per_s" -> (thr, "1/s"),
      "wave_mean_ms" -> (Stats.mean(waveMs.toSeq), "ms"), "wave_p50_ms" -> (p50, "ms"), "wave_tail_ms" -> (tailMs, "ms"),
      "wave_tail_pct" -> (tail.toDouble, "pct"), "waves" -> (waveMs.size.toDouble, "count"),
      "rounds" -> (timed.size.toDouble, "count"), "items_per_round" -> (n.toDouble, "count"),
      "dispatchers" -> (Dispatchers.toDouble, "count"), "cores" -> (Main.Cores.toDouble, "count"))
    Trace.stopSampler()
    if (ctx.trace) layers(ctx, res, rounds.toSeq)
    res
  }

  private def layers(ctx: Ctx, res: Result, rounds: Seq[Round]): Unit = {
    val spark = ctx.spark
    val tr = rounds.filter(_.traced)
    val k = tr.size.toDouble
    val stages = Trace.settledStages()
    val out = mutable.Map.empty[String, Double]
    val waves = tr.flatMap(_.waves)
    val waveStages = stages.groupBy(s => (s.query, s.batch))
    def stOf(p: StreamingQueryProgress) = waveStages.getOrElse((p.id.toString, p.batchId), Nil)
    def d(p: StreamingQueryProgress, key: String): Double =
      Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)
    out("ledger.stage_s") = Layers.sampled("ledger", "stage", tr.size)
    val cas = tr.map(_.casRetries).sum
    val commits = tr.map(r => VersionedTable.latestVersion(spark, s"${r.dir}/ledger").getOrElse(0L)).sum
    out("ledger.cas_retries") = cas / k
    out("ledger.commits") = commits / k
    out("ledger.retries_per_commit") = if (commits > 0) cas.toDouble / commits else 0.0
    out("ledger.log_files") = tr.map(r =>
      Option(new File(s"${r.dir}/ledger/_log").listFiles()).map(_.length).getOrElse(0)).sum / k
    out("done.files") = tr.map(r => VersionedTable.snapshot(spark, s"${r.dir}/ledger_done").files.size).sum / k
    out("queue_source.offset_ms") = Stats.mean(waves.map(d(_, "latestOffset")))
    out("queue_source.getbatch_ms") = Stats.mean(waves.map(d(_, "getBatch")))
    out("wave.add_batch_ms") = Stats.mean(waves.map(d(_, "addBatch")))
    out("wave.driver_ms") = Stats.mean(waves.map(p =>
      d(p, "addBatch") - 1000.0 * Trace.stageUnion(stOf(p))))
    out("itemstore.stage_s") = Layers.sampled("itemstore", "stage", tr.size)
    val resultFiles = tr.map(r => (0 until Dispatchers).map(i => new File(s"${r.dir}/results-$i"))
      .map(f => (Stats.dataFiles(f), Stats.dirBytes(f))))
    out("itemstore.files_written") = resultFiles.map(_.map(_._1).sum).sum / k
    out("itemstore.bytes_per_item") =
      resultFiles.map(_.map(_._2).sum).sum.toDouble / (k * Files * PerFile)
    out("gc_s") = tr.map(_.gcS).sum / k
    Layers.split(out, tr.size)
    val on = Stats.median(tr.map(_.drainS))
    val off = Stats.median(rounds.filterNot(_.traced).map(_.drainS))
    out("trace.overhead_frac") = on / off - 1.0
    Layers.fill(res, out)
    Trace.dump(new File(ctx.work, "trace.jsonl"))
  }
}
