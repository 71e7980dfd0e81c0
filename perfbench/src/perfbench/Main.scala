package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JSON result file.
  *
  * Args: --workload NAME --seed N --seconds S --trace 0|1 --work DIR --out FILE.
  * Everything the run writes lives under --work.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = new File(a("work")).getAbsolutePath
    val spark = session(work)
    val ctx = Ctx(spark, work, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", (System.nanoTime() - t0) / 1e9)
    val res =
      try a("workload") match {
        case "queue_contended" => QueueContended.run(ctx)
        case "queue_lifecycle" => QueueLifecycle.run(ctx)
        case "corpus_dedup" => CorpusDedup.run(ctx)
        case w => sys.error(s"unknown workload $w")
      } finally spark.stop()
    Files.writeString(new File(a("out")).toPath, res.json(ctx.trace))
    ()
  }

  val Cores = 4

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What every workload gets: the session, its scratch dir, and the run args. */
final case class Ctx(spark: SparkSession, work: String, seed: Long,
    seconds: Double, trace: Boolean, sessionS: Double) {
  def dir(name: String): String = {
    val f = new File(work, name)
    f.mkdirs()
    f.getAbsolutePath
  }
}

/** A workload's outcome. `e2e` and `layers` use the names of BENCHMARK.json;
  * `named` carries the workload's own metric names (README.md maps them).
  */
final class Result(val attempted: Long, val failed: Long) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  def json(trace: Boolean): String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) =>
        s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
      }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${obj(if (trace) layers else e2e)}, "named": ${obj(named)}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The highest whole percentile with at least 10 samples above it (never
    * below the median): the tail a run of this size can actually resolve.
    */
  def tailPct(n: Int): Int = math.max(50, math.floor(100.0 * (1.0 - 10.0 / n)).toInt)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Live heap after a full collection, MB. Called between timed cycles, so
    * every cycle also starts from a collected heap.
    */
  def liveHeapMb(): Double = {
    // the second collection picks up what Spark's ContextCleaner released
    // for the references the first one cleared (checkpoint and shuffle blocks)
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Total GC pause seconds of this JVM so far. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum

  /** Data files (no hidden or underscore files) under `f`. */
  def dataFiles(f: File): Int =
    if (f.isFile) (if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1)
    else Option(f.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith("_")).map(dataFiles).sum
}
