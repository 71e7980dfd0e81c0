package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{LogRouter, Runner}
import graft.model.ItemState
import graft.ops.Mutations
import graft.queries.{JobStates, StateQueries}
import graft.store.{Importer, ItemStore}

/** `queue_lifecycle`: the reference operator cycle in one process, through
  * the same public calls the `import`, `run`, `monitor` and
  * `reset --keep-tasks` verbs make:
  *
  *   import → run → monitor → route + sink the run's logs →
  *   reset Wall_Time_Exceeded (keep tasks) → run → monitor
  *
  * The generated import file mixes single and nested items. Their task
  * logs fall in every LogRouter tier (inline, salvaged `PyAnamo:\t` lines,
  * log service, object store), and some nested tasks fail on their first
  * attempt only, so those items land in Wall_Time_Exceeded and the reset and
  * second run have real work. Cycles repeat on fresh tables until the run's
  * seconds are spent.
  */
object QueueLifecycle {
  val Items = 80

  /** The generated input of one seed, with what the program should make of it. */
  final case class Input(file: String, bin: String, items: Int, nestedItems: Int,
      tasks: Int, failingItems: Int, tiers: Map[String, Int])

  private val TaskScript =
    """#!/bin/bash
      |# t.sh MARKS KEY TIER FAIL_ONCE: print a log of the tier's size; with
      |# FAIL_ONCE=1 fail the first attempt (a marker file remembers it)
      |marks=$1; key=$2; tier=$3; fail=$4
      |if [ "$fail" = 1 ] && [ ! -e "$marks/$key" ]; then
      |  mkdir -p "$marks"; : > "$marks/$key"; echo "transient failure $key" >&2; exit 3
      |fi
      |case $tier in
      |  dynamo) echo "ok $key" ;;
      |  dynamo_salvaged) head -c 3000 /dev/zero | tr '\0' x; printf '\nPyAnamo:\tresult %s\n' "$key" ;;
      |  cloudwatch) head -c 6000 /dev/zero | tr '\0' y; echo ;;
      |  s3) head -c 10600000 /dev/zero | tr '\0' z; echo ;;
      |esac
      |""".stripMargin

  /** Write the import file and the task script for `seed`. The shape is
    * fixed and the seed only arranges it: 3/5 of the items are single, 2/5
    * nested with 2, 3 or 4 tasks (a third each), and a quarter of the nested
    * items have one task that fails once. One single item logs past the
    * object-store limit; the other first-pass logs are 70% inline, 15%
    * salvaged and 15% log-service sized.
    */
  def generate(seed: Long, dir: String, items: Int): Input = {
    val rnd = new scala.util.Random(seed)
    new File(dir).mkdirs()
    val bin = new File(dir, "t.sh")
    Files.writeString(bin.toPath, TaskScript)
    val nNested = items * 2 / 5
    val nested = rnd.shuffle(Seq.tabulate(items)(_ < nNested)).toIndexedSeq
    val sizes = rnd.shuffle(Seq.tabulate(nNested)(i => 2 + i % 3)).iterator
    val failing = rnd.shuffle(Seq.tabulate(nNested)(_ < nNested / 4)).iterator
    val slots = (items - nNested - 1) + (0 until nNested).map(i => 2 + i % 3).sum - nNested / 4
    val nSide = (slots * 0.15).round.toInt
    val bag = rnd.shuffle(Seq.fill(nSide)("dynamo_salvaged") ++ Seq.fill(nSide)("cloudwatch") ++
      Seq.fill(slots - 2 * nSide)("dynamo")).iterator
    val tiers = mutable.Map.empty[String, Int].withDefaultValue(0)
    val base = rnd.nextInt(900000) + 100000
    var tasks = 0
    var s3Done = false
    val lines = (0 until items).map { i =>
      val id = f"item-$base%06d-$i%05d"
      val group = s"grp-${i % 7}"
      if (!nested(i)) {
        val t = if (s3Done) bag.next() else { s3Done = true; "s3" }
        tiers(t) += 1
        tasks += 1
        s"$id|$group|bash $${BIN} $${MARKS} $id $t 0|"
      } else {
        val k = sizes.next()
        val failAt = if (failing.next()) rnd.nextInt(k) else -1
        val args = (0 until k).map { j =>
          // a failing task logs its (inline-sized) failure on the first pass
          val t = if (j == failAt) "dynamo" else bag.next()
          tiers(t) += 1
          s"$id-$j $t ${if (j == failAt) 1 else 0}"
        }
        tasks += k
        s"$id|$group|bash $${BIN} $${MARKS}|${args.mkString(",")}"
      }
    }
    val file = new File(dir, "items.txt")
    Files.writeString(file.toPath, ("itemID|taskID|TaskScript|TaskArgs" +: lines).mkString("", "\n", "\n"))
    Input(file.getAbsolutePath, bin.getAbsolutePath, items, nNested, tasks, nNested / 4, tiers.toMap)
  }

  /** One cycle's measurements and its checked outcome. */
  final case class Cycle(seconds: Double, runS: Double, tasks: Long, monitorMs: Seq[(String, Double)],
      attempted: Long, failed: Long, traced: Boolean, gcS: Double)

  private def jobs(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until 8).map(i => (s"queue-$i:${rnd.nextInt(1000)}",
      Seq("SUCCEEDED", "FAILED", "RUNNING", "RUNNABLE")(rnd.nextInt(4)))).toDF("jobID", "job_status")
  }

  /** The `run` verb: execute every claimable task, then swap the merged
    * table into place. Returns the outcomes' task count.
    */
  private def runPass(spark: SparkSession, table: String, in: Input, marks: String): Long =
    Trace.span(spark, "run") {
      val (updated, outcomes) = Runner.processItems(ItemStore.load(spark, table),
        Runner.RunConfig(env = Map("BIN" -> in.bin, "MARKS" -> marks), parallelism = Main.Cores))
      val n = Trace.span(spark, "exec.execute")(outcomes.count())
      if (Trace.on) {
        scriptS += outcomes.agg(sum(col("elapsedSeconds"))).head().getDouble(0)
      }
      Trace.span(spark, "merge") {
        val tmp = table + ".next"
        ItemStore.save(updated, tmp)
        ItemStore.drop(spark, table)
        Files.move(new File(tmp).toPath, new File(table).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
      outcomes.unpersist()
      n
    }

  private var scriptS = 0.0
  private val tierRows = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var resetRows = 0L
  private var sinkBytes = 0L
  private var filesWritten = 0L

  private val MonitorQueries: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "monitor.item_counter" -> ((items, _) => StateQueries.itemCounter(items)),
    "monitor.progress_histogram" -> ((items, _) => StateQueries.progressHistogram(items)),
    "monitor.state_samples" -> ((items, _) => StateQueries.stateSamples(items)),
    "monitor.job_states" -> ((items, jobs) => JobStates.jobStateCounts(items, jobs)))

  /** Dashboard refreshes per monitor step. */
  val Refreshes = 2

  /** The `monitor` verb plus the job-state view, refreshed [[Refreshes]]
    * times, each query timed serially.
    */
  private def monitor(spark: SparkSession, table: String, jobsDf: DataFrame, refreshes: Int)
      : (Seq[(String, Double)], Map[String, Long]) = {
    var counts = Map.empty[String, Long]
    val times = (1 to refreshes).flatMap(_ => MonitorQueries).map { case (name, q) =>
      val (rows, s) = Stats.time(Trace.span(spark, name)(q(ItemStore.load(spark, table), jobsDf).collect()))
      if (name == "monitor.item_counter")
        counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      name -> s * 1000.0
    }
    (times, counts)
  }

  def cycle(spark: SparkSession, in: Input, dir: String, jobsDf: DataFrame, check: Boolean,
      refreshes: Int = Refreshes): Cycle = {
    val table = s"$dir/items"
    val marks = s"$dir/marks"
    val gc0 = Stats.gcSeconds()
    val t0 = System.nanoTime()
    Trace.span(spark, "import") {
      val items = Importer.importFile(spark, in.file, "|", Some(","))
      if (!ItemStore.exists(spark, table)) ItemStore.create(spark, table)
      val fresh = items.join(ItemStore.load(spark, table).select("itemID"), Seq("itemID"), "left_anti")
        .transform(graft.plans.Lineage.cut)
      ItemStore.append(fresh, table)
      ItemStore.load(spark, table).count()
    }
    val (n1, r1) = Stats.time(runPass(spark, table, in, marks))
    val (m1, counts1) = monitor(spark, table, jobsDf, refreshes)
    // route the first run's logs: filed tiers to the sink, the inline tier back
    val outcomes1 = ItemStore.load(spark, table)
      .select(col("itemID"), explode(col("log")).as(Seq("taskKey", "entry")))
      .select(col("itemID"), col("taskKey"),
        concat(col("entry.stdout"), col("entry.stderr")).as("payload"))
    val routed = Trace.span(spark, "logroute") {
      val routed = LogRouter.route(outcomes1, "payload")
      LogRouter.sink(routed, "payload", s"$dir/sink").count()
      routed
    }
    // the tier tally is a check, not part of the cycle: its time is taken out
    val (tiers, tierS) = Stats.time(if (check || Trace.on)
      routed.groupBy("route").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    else Map.empty[String, Long])
    Trace.span(spark, "reset") {
      ItemStore.replacePartitions(
        Mutations.resetItems(ItemStore.load(spark, table),
          col("itemState") === ItemState.WallTimeExceeded, ItemState.Todo, resetTasks = false),
        table, Seq(ItemState.WallTimeExceeded, ItemState.Todo))
    }
    val (n2, r2) = Stats.time(runPass(spark, table, in, marks))
    val (m2, _) = monitor(spark, table, jobsDf, refreshes)
    val seconds = (System.nanoTime() - t0) / 1e9 - tierS
    var attempted = 0L
    var failed = 0L
    if (Trace.on) {
      tiers.foreach { case (t, c) => tierRows(t) += c }
      resetRows += counts1.getOrElse(ItemState.WallTimeExceeded, 0L)
      sinkBytes += Stats.dirBytes(new File(s"$dir/sink"))
      filesWritten += Stats.dataFiles(new File(table))
    }
    if (check) {
      val (a, f) = verify(spark, table, in, counts1, tiers, n1 + n2)
      attempted = a
      failed = f
    }
    Cycle(seconds, r1 + r2, n1 + n2, m1 ++ m2, attempted, failed, Trace.on,
      Stats.gcSeconds() - gc0)
  }

  /** Checks of one cycle against the generator: the first run parks exactly
    * the items with a failing task in Wall_Time_Exceeded; at the end every
    * item is `done`, every nested task has exactly one `Done` log entry, each
    * task ran once per attempt, and the routed tier counts match.
    */
  def verify(spark: SparkSession, table: String, in: Input, afterRun1: Map[String, Long],
      tiers: Map[String, Long], executed: Long): (Long, Long) = {
    val items = ItemStore.load(spark, table)
    val notDone = items.filter(col("itemState") =!= ItemState.Done).count()
    val total = items.count()
    val nested = items.filter(col("nestedTasks").isNotNull)
    val badNested = nested.filter(
      size(col("log")) =!= col("nestedTaskCount") ||
        col("logLength") =!= col("nestedTaskCount") ||
        size(filter(map_values(col("log")), e => e.getField("status") === "Done")) =!=
          col("nestedTaskCount") ||
        size(filter(map_values(col("nestedTasks")), t => t.getField("status") =!= "done")) > 0)
      .count()
    val wte = afterRun1.getOrElse(ItemState.WallTimeExceeded, 0L)
    val tierMiss = Layers.Tiers.map(t => math.abs(tiers.getOrElse(t, 0L) - in.tiers.getOrElse(t, 0))).sum
    val attempted = in.items + in.nestedItems + 1 + Layers.Tiers.size + 1
    val failed = notDone + math.abs(total - in.items) + badNested +
      math.abs(wte - in.failingItems) + tierMiss + math.abs(executed - (in.tasks + in.failingItems))
    (attempted, failed)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    Trace.install(spark)
    if (ctx.trace) Trace.startSampler(Thread.currentThread())
    val gens = (0 until 3).map(i => Stats.time(generate(ctx.seed, ctx.dir(s"gen-$i"), Items)))
    val in = gens.head._1
    val jobsDf = jobs(spark, ctx.seed)
    val (_, warmS) = Stats.time {
      val w = generate(ctx.seed + 1, ctx.dir("warm-in"), Items / 5)
      cycle(spark, w, ctx.dir("warm"), jobsDf, check = false, refreshes = 1)
    }
    val setupS = ctx.sessionS + Stats.median(gens.map(_._2)) + warmS

    var liveHeap = 0.0
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (cycles.isEmpty || elapsed < ctx.seconds || (ctx.trace && cycles.size < 3)) {
      val r = cycles.size
      Trace.on = ctx.trace && r % 2 == 1
      Trace.cycle = r
      cycles += cycle(spark, in, ctx.dir(s"cycle-$r"), jobsDf, check = true)
      Trace.on = false
      val heap = Stats.liveHeapMb()
      if (r == 0) liveHeap = heap
    }
    Trace.stopSampler()
    val res = new Result(cycles.map(_.attempted).sum, cycles.map(_.failed).sum)
    val timed = if (ctx.trace) cycles.filterNot(_.traced) else cycles
    val mon = timed.flatMap(_.monitorMs.map(_._2)).toSeq
    val tail = Stats.tailPct(mon.size)
    val lifeS = Stats.median(timed.map(_.seconds).toSeq)
    val tps = Stats.median(timed.map(c => c.tasks / c.runS).toSeq)
    val p50 = Stats.median(mon)
    val tailMs = Stats.percentile(mon, tail)
    val rss = Stats.peakRssMb()
    res.e2e ++= Seq("setup_s" -> (setupS, "s"), "throughput" -> (tps, "1/s"),
      "step_mean_ms" -> (Stats.mean(mon.toSeq), "ms"),
      "cycle_s" -> (lifeS, "s"), "live_heap_mb" -> (liveHeap, "MB"))
    res.named ++= Seq("setup_s" -> (setupS, "s"),
      "failed_frac" -> (res.failed.toDouble / res.attempted, "frac"),
      "peak_rss_mb" -> (rss, "MB"), "live_heap_mb" -> (liveHeap, "MB"), "lifecycle_s" -> (lifeS, "s"),
      "tasks_per_s" -> (tps, "1/s"), "monitor_mean_ms" -> (Stats.mean(mon), "ms"), "monitor_p50_ms" -> (p50, "ms"),
      "monitor_tail_ms" -> (tailMs, "ms"), "monitor_tail_pct" -> (tail.toDouble, "pct"),
      "monitor_calls" -> (mon.size.toDouble, "count"), "cycles" -> (timed.size.toDouble, "count"),
      "items" -> (in.items.toDouble, "count"), "nested_items" -> (in.nestedItems.toDouble, "count"),
      "tasks" -> (in.tasks.toDouble, "count"), "failing_items" -> (in.failingItems.toDouble, "count"),
      "cores" -> (Main.Cores.toDouble, "count")) ++
      Layers.Tiers.map(t => s"tier_$t" -> (in.tiers.getOrElse(t, 0).toDouble, "count"))
    if (ctx.trace) layers(ctx, res, cycles.toSeq, in)
    res
  }

  private def layers(ctx: Ctx, res: Result, cycles: Seq[Cycle], in: Input): Unit = {
    val tr = cycles.filter(_.traced)
    val k = tr.size
    val stages = Trace.settledStages()
    val spans = Trace.spans.toArray(Array.empty[Span]).toSeq
    val out = mutable.Map.empty[String, Double]
    def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum / k
    def spanStages(name: String) = {
      val ids = spans.filter(_.name == name).map(_.id).toSet
      stages.filter(s => ids(s.span))
    }
    out("exec.tasks") = tr.map(_.tasks).sum.toDouble / k
    out("exec.script_s") = scriptS / k
    out("exec.execute_s") = spanS("exec.execute")
    out("exec.busy_frac") = scriptS / (spans.filter(_.name == "exec.execute").map(_.seconds).sum * Main.Cores)
    out("exec.spark_tasks") = spanStages("exec.execute").map(_.tasks).sum.toDouble / k
    out("merge.s") = spanS("merge")
    out("merge.shuffle_mb") = spanStages("merge").map(_.shuffleWrite).sum / 1e6 / k
    out("itemstore.files_written") = filesWritten.toDouble / k
    out("itemstore.bytes_per_item") = tr.indices.headOption.map { _ =>
      Stats.dirBytes(new File(ctx.work, "cycle-1/items")).toDouble / in.items
    }.getOrElse(0.0)
    out("itemstore.stage_s") = Layers.sampled("itemstore", "stage", k)
    out("logroute.s") = spanS("logroute")
    Layers.Tiers.foreach(t => out(s"logroute.rows_by_tier.$t") = tierRows(t) / k)
    out("logroute.sink_mb") = sinkBytes / 1e6 / k
    out("import.s") = spanS("import")
    out("import.items_per_s") = in.items / spanS("import")
    MonitorQueries.foreach { case (name, _) =>
      out(s"${name}_ms") = Stats.mean(tr.flatMap(_.monitorMs.filter(_._1 == name).map(_._2)))
    }
    out("reset.s") = spanS("reset")
    out("reset.partitions_rewritten") = 2.0
    out("reset.rows_rewritten") = resetRows.toDouble / k
    out("gc_s") = tr.map(_.gcS).sum / k
    Layers.split(out, k)
    out("trace.overhead_frac") =
      Stats.median(tr.map(_.seconds)) / Stats.median(cycles.filterNot(_.traced).map(_.seconds)) - 1.0
    Layers.fill(res, out)
    Trace.dump(new File(ctx.work, "trace.jsonl"))
  }
}
