package perfbench

import scala.collection.mutable

/** The per-layer metric catalogue. Every traced run reports every name
  * here, with 0 for layers its workload does not reach, so all workloads
  * print the same set.
  */
object Layers {
  val DedupSpans: Seq[String] =
    Seq("dedup.families", "dedup.oneshot_pairs", "index.build", "index.probe", "index.append")

  val SpanFields: Seq[(String, String)] = Seq(
    "s" -> "s", "stages" -> "count", "tasks" -> "count", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "driver_s" -> "s", "heavy_stage_tasks" -> "count",
    "heavy_stage_busy_frac" -> "frac")

  val Tiers: Seq[String] = Seq("dynamo", "dynamo_salvaged", "cloudwatch", "s3")

  val All: Seq[(String, String)] = Seq(
    "ledger.stage_s" -> "s", "ledger.cas_retries" -> "count", "ledger.commits" -> "count",
    "ledger.retries_per_commit" -> "ratio", "ledger.log_files" -> "count",
    "done.files" -> "count", "queue_source.offset_ms" -> "ms",
    "queue_source.getbatch_ms" -> "ms",
    "wave.add_batch_ms" -> "ms", "wave.driver_ms" -> "ms",
    "exec.tasks" -> "count", "exec.script_s" -> "s", "exec.execute_s" -> "s",
    "exec.busy_frac" -> "frac", "exec.spark_tasks" -> "count",
    "merge.s" -> "s", "merge.shuffle_mb" -> "MB", "itemstore.files_written" -> "count",
    "itemstore.bytes_per_item" -> "B", "itemstore.stage_s" -> "s",
    "logroute.s" -> "s") ++
    Tiers.map(t => s"logroute.rows_by_tier.$t" -> "count") ++ Seq(
    "logroute.sink_mb" -> "MB",
    "import.s" -> "s", "import.items_per_s" -> "1/s",
    "monitor.item_counter_ms" -> "ms", "monitor.progress_histogram_ms" -> "ms",
    "monitor.state_samples_ms" -> "ms", "monitor.job_states_ms" -> "ms",
    "reset.s" -> "s", "reset.partitions_rewritten" -> "count",
    "reset.rows_rewritten" -> "count") ++
    DedupSpans.flatMap(s => SpanFields.map { case (f, u) => s"$s.$f" -> u }) ++ Seq(
    "dedup.candidates" -> "count", "dedup.verified" -> "count",
    "dedup.verify_yield" -> "frac",
    "index.files" -> "count", "index.bytes_per_doc" -> "B", "index.commits" -> "count",
    "gc_s" -> "s") ++
    Trace.Modules.map(m => s"split.${m}_frac" -> "frac") ++ Seq(
    "split.driver_frac" -> "frac", "split.blocking_s" -> "s",
    "trace.overhead_frac" -> "frac")

  private val units = All.toMap

  /** Fill `res.layers` in catalogue order from `values` (absent → 0). */
  def fill(res: Result, values: mutable.Map[String, Double]): Unit = {
    val unknown = values.keySet -- units.keySet
    require(unknown.isEmpty, s"metrics missing from the catalogue: $unknown")
    All.foreach { case (k, u) => res.layers(k) = (values.getOrElse(k, 0.0), u) }
  }

  /** Per-span stage shape over the traced cycles (means per cycle). */
  def spanShape(out: mutable.Map[String, Double], name: String, spans: Seq[Span],
      stages: Seq[StageRec], cycles: Int): Unit = {
    val mine = spans.filter(_.name == name)
    val ids = mine.map(_.id).toSet
    val st = stages.filter(s => ids(s.span))
    val n = math.max(cycles, 1).toDouble
    val driver = mine.map { sp =>
      sp.seconds - Trace.stageUnion(st.filter(_.span == sp.id))
    }.sum
    out(s"$name.s") = mine.map(_.seconds).sum / n
    out(s"$name.stages") = st.size / n
    out(s"$name.tasks") = st.map(_.tasks).sum / n
    out(s"$name.shuffle_write_mb") = st.map(_.shuffleWrite).sum / 1e6 / n
    out(s"$name.spill_mb") = st.map(_.spill).sum / 1e6 / n
    out(s"$name.driver_s") = math.max(0.0, driver) / n
    if (st.nonEmpty) {
      val heavy = st.maxBy(_.runMs)
      val wall = math.max(1L, heavy.endMs - heavy.startMs)
      out(s"$name.heavy_stage_tasks") = heavy.tasks
      out(s"$name.heavy_stage_busy_frac") = heavy.runMs.toDouble / (wall * Main.Cores)
    }
  }

  /** Sampled seconds per traced cycle in `module`, `stage` or `driver` side. */
  def sampled(module: String, kind: String, cycles: Int): Double =
    Trace.sampledSeconds().getOrElse((module, kind), 0.0) / math.max(cycles, 1)

  /** Time split of the blocking threads, from [[Trace]]'s stack samples:
    * each module's share (stage waits plus driver work), the driver-side
    * share across modules, and the blocking seconds per cycle.
    */
  def split(out: mutable.Map[String, Double], cycles: Int): Unit = {
    val ss = Trace.sampledSeconds()
    val total = ss.values.sum
    if (total > 0) {
      Trace.Modules.foreach { m =>
        out(s"split.${m}_frac") =
          (ss.getOrElse((m, "stage"), 0.0) + ss.getOrElse((m, "driver"), 0.0)) / total
      }
      out("split.driver_frac") = ss.collect { case ((_, "driver"), v) => v }.sum / total
      out("split.blocking_s") = total / math.max(cycles, 1)
    }
  }
}
