package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}

import graft.dedup.{Dedup, DedupIndex}
import graft.store.VersionedTable

/** `corpus_dedup`: exact-family summary, one-shot PPJoin family pairs at
  * τ = 0.8 and the prefix-index build over a seeded corpus, then daily
  * batches, each probed against the index and then appended to it. Every
  * call runs through a noop sink.
  *
  * The corpus draws from the vocabulary of the sf0.1 `documents` table
  * (31 words, 10-100 words a doc) and is larger than its 5,000 docs, with
  * exact copies and one-word-substitution near-dups planted at stated
  * rates; each batch plants exact copies and near-dups of corpus docs
  * among fresh docs.
  *
  * Checked on the first timed cycle, whose outputs are collected instead of
  * sunk: the exact families equal the planted ones, every planted pair is
  * found, and a seeded sample of output pairs re-verifies at jaccard ≥ τ
  * from the texts.
  */
object CorpusDedup {
  val Vocabulary: Array[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(" ")
  val CorpusDocs = 6000
  val ExactRate = 0.05
  val NearRate = 0.05
  val Batches = 4
  val BatchDocs = 300
  val BatchExactRate = 0.03
  val BatchNearRate = 0.05
  val Tau = 0.8
  val CheckSample = 50

  final case class Input(corpus: String, batches: Seq[String], texts: Map[Long, String],
      families: Set[(Long, Long)], oneshotPairs: Seq[(Long, Long)],
      batchPairs: Seq[Seq[(Long, Long)]], planted: Map[String, Int])

  /** Seeded corpus and batches as parquet under `dir`, plus the planted truth. */
  def generate(spark: SparkSession, seed: Long, dir: String, corpusDocs: Int,
      batches: Int = Batches): Input = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def fresh(minWords: Int): String =
      Seq.fill(minWords + rnd.nextInt(101 - minWords))(Vocabulary(rnd.nextInt(Vocabulary.length))).mkString(" ")
    // one word swapped for a different one, away from the ends: at most 3
    // of ≥ 38 trigrams change, so jaccard ≥ 35/41 > τ
    def near(t: String): String = {
      val w = t.split(" ")
      val i = 1 + rnd.nextInt(w.length - 2)
      w(i) = Vocabulary.filterNot(_ == w(i))(rnd.nextInt(Vocabulary.length - 1))
      w.mkString(" ")
    }
    val texts = mutable.LinkedHashMap.empty[Long, String]
    val nExact = (corpusDocs * ExactRate).toInt
    val nNear = (corpusDocs * NearRate).toInt
    val nBase = corpusDocs - nExact - nNear
    (0 until nBase).foreach(i => texts(i.toLong) = fresh(if (i % 2 == 0) 40 else 10))
    val longBase = (0 until nBase by 2).map(_.toLong)
    val copyOf = mutable.Map.empty[Long, Long]
    (0 until nExact).foreach { j =>
      val id = (nBase + j).toLong
      val src = rnd.nextInt(nBase).toLong
      texts(id) = texts(src); copyOf(id) = src
    }
    val nearPairs = (0 until nNear).map { j =>
      val id = (nBase + nExact + j).toLong
      val src = longBase(rnd.nextInt(longBase.size))
      texts(id) = near(texts(src))
      (src, id)
    }
    // exact families: (rep = min id, size)
    val fams = (copyOf.keys.toSeq ++ copyOf.values).groupBy(id => copyOf.getOrElse(id, id))
      .map { case (_, ids) => val d = ids.distinct; (d.min, d.size.toLong) }.toSet
    val repIndex = {
      val byRoot = (texts.keys.map(id => copyOf.getOrElse(id, id) -> id)).groupBy(_._1)
        .map { case (root, xs) => root -> xs.map(_._2).min }
      (id: Long) => byRoot(copyOf.getOrElse(id, id))
    }
    val oneshot = nearPairs.map { case (a, b) =>
      val (x, y) = (repIndex(a), repIndex(b)); (math.min(x, y), math.max(x, y))
    }
    val corpusPath = s"$dir/corpus"
    texts.toSeq.toDF("doc_id", "text").repartition(Main.Cores).write.parquet(corpusPath)
    var next = corpusDocs.toLong
    val batchPairs = mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    val batchPaths = (0 until batches).map { b =>
      val docs = mutable.ArrayBuffer.empty[(Long, String)]
      val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
      val nEx = (BatchDocs * BatchExactRate).round.toInt
      val nNr = (BatchDocs * BatchNearRate).round.toInt
      rnd.shuffle(Seq.tabulate(BatchDocs)(j => if (j < nEx) 0 else if (j < nEx + nNr) 1 else 2))
        .foreach { kind =>
          val id = next; next += 1
          if (kind == 0) {
            val src = rnd.nextInt(corpusDocs).toLong
            docs += id -> texts(src); pairs += src -> id
          } else if (kind == 1) {
            val src = longBase(rnd.nextInt(longBase.size))
            docs += id -> near(texts(src)); pairs += src -> id
          } else docs += id -> fresh(10)
        }
      docs.foreach { case (id, t) => texts(id) = t }
      val p = s"$dir/batch-$b"
      docs.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(p)
      batchPairs += pairs.toSeq
      p
    }
    Input(corpusPath, batchPaths, texts.toMap, fams, oneshot, batchPairs.toSeq,
      Map("corpus_docs" -> corpusDocs, "exact_copies" -> nExact, "near_dups" -> nNear,
        "batch_docs" -> BatchDocs, "batches" -> batches,
        "batch_planted" -> batchPairs.map(_.size).sum))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Exactly the program's gram sets: lower-cased, whitespace-collapsed
    * word trigrams (the whole text when shorter than three words).
    */
  def grams(text: String): Set[String] = {
    val toks = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ", -1)
    if (toks.length < 3) Set(toks.mkString(" ")) else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (grams(a), grams(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  final case class Cycle(oneshotS: Double, batchS: Seq[Double], traced: Boolean, gcS: Double,
      dir: String)

  /** Rows into and out of the jaccard verify step of an executed plan: a
    * filter, or the join the optimizer pushed that filter into (its
    * streamed side is the candidates).
    */
  private object Plans extends AdaptiveSparkPlanHelper {
    private def rows(p: SparkPlan): Long =
      collectFirst(p) { case n if n.metrics.contains("numOutputRows") => n.metrics("numOutputRows").value }
        .getOrElse(0L)

    private def verifySteps(plan: SparkPlan): Seq[(Long, Long)] =
      collect(plan) {
        case f: FilterExec if f.condition.sql.contains("array_intersect") => (rows(f.child), rows(f))
        case j: BaseJoinExec if j.condition.exists(_.sql.contains("array_intersect")) =>
          val streamed = j match {
            case h: HashJoin if h.buildSide == BuildLeft => j.right
            case _ => j.left
          }
          (rows(streamed), rows(j))
      }

    def hasVerify(qe: QueryExecution): Boolean = verifySteps(qe.executedPlan).nonEmpty

    def verifyCounts(plan: SparkPlan): (Long, Long) =
      verifySteps(plan).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  private var candidates, verified = 0L

  /** One cycle over fresh index tables; `sink` consumes each call's output. */
  def cycle(spark: SparkSession, in: Input, dir: String,
      sink: DataFrame => Unit): Cycle = {
    val gc0 = Stats.gcSeconds()
    val corpus = spark.read.parquet(in.corpus)
    val index = s"$dir/index"
    val (_, oneshotS) = Stats.time {
      Trace.span(spark, "dedup.families")(sink(Dedup.exactFamilySummary(corpus, "doc_id", "text")))
      Trace.span(spark, "dedup.oneshot_pairs") {
        Trace.planOf("overwrite", Plans.hasVerify)(
            sink(Dedup.prefixFilterJaccardFamilyPairs(corpus, "doc_id", "text", Tau)))
          .foreach { qe =>
            val (c, v) = Plans.verifyCounts(qe.executedPlan)
            candidates += c; verified += v
          }
      }
      Trace.span(spark, "index.build")(DedupIndex.buildPrefix(corpus, "doc_id", "text", index, Tau))
    }
    val batchS = in.batches.zipWithIndex.map { case (p, b) =>
      val batch = spark.read.parquet(p)
      Stats.time {
        Trace.span(spark, "index.probe")(sink(DedupIndex.ppjoinBatch(spark, index, batch, "doc_id", "text")))
        Trace.span(spark, "index.append")(DedupIndex.appendPrefix(spark, index, batch, "doc_id", "text", s"day-$b"))
      }._2
    }
    Cycle(oneshotS, batchS, Trace.on, Stats.gcSeconds() - gc0, dir)
  }

  /** A cycle that collects every output instead of sinking it, checked
    * against the planted truth. Returns (cycle, attempted, failed).
    */
  def checkedCycle(spark: SparkSession, in: Input, dir: String, seed: Long): (Cycle, Long, Long) = {
    val outs = mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    val c = cycle(spark, in, dir, df => outs += df.collect())
    // outs: families, one-shot pairs, then one probe per batch
    val fams = outs(0).filter(_.getLong(1) >= 2).map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneshot = outs(1).map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val probes = outs.drop(2).map(_.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap)
    var attempted = 1L
    var failed = if (fams == in.families) 0L else 1L
    in.oneshotPairs.foreach { p => attempted += 1; if (!oneshot.contains(p)) failed += 1 }
    in.batchPairs.zip(probes).foreach { case (planted, got) =>
      planted.foreach { case (a, b) =>
        attempted += 1
        if (!got.contains((math.min(a, b), math.max(a, b)))) failed += 1
      }
    }
    val rnd = new scala.util.Random(seed)
    val all = (oneshot.toSeq ++ probes.flatMap(_.toSeq)).sortBy(_._1)
    rnd.shuffle(all).take(CheckSample).foreach { case ((a, b), j) =>
      attempted += 1
      val exact = jaccard(in.texts(a), in.texts(b))
      if (exact < Tau || exact != j) failed += 1
    }
    (c, attempted, failed)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    Trace.install(spark)
    if (ctx.trace) Trace.startSampler(Thread.currentThread())
    val gens = (0 until 3).map(i => Stats.time(generate(spark, ctx.seed, ctx.dir(s"gen-$i"), CorpusDocs)))
    val in = gens.head._1
    // warm-up on a small input of another seed; the first timed cycle
    // collects its outputs and is the checked one
    val (_, warmS) = Stats.time(cycle(spark,
      generate(spark, ctx.seed + 1, ctx.dir("warm-in"), CorpusDocs / 4, batches = 1),
      ctx.dir("warm"), noop))
    val setupS = ctx.sessionS + Stats.median(gens.map(_._2)) + warmS
    var attempted, failed = 0L

    var liveHeap = 0.0
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (cycles.isEmpty || elapsed < ctx.seconds || (ctx.trace && cycles.size < 3)) {
      val r = cycles.size
      Trace.on = ctx.trace && r % 2 == 1
      Trace.cycle = r
      cycles += (if (r > 0) cycle(spark, in, ctx.dir(s"cycle-$r"), noop)
      else {
        val (c, a, f) = checkedCycle(spark, in, ctx.dir(s"cycle-$r"), ctx.seed)
        attempted = a
        failed = f
        c
      })
      Trace.on = false
      val heap = Stats.liveHeapMb()
      if (r == 0) liveHeap = heap
    }
    Trace.stopSampler()
    val res = new Result(attempted, failed)
    val timed = if (ctx.trace) cycles.filterNot(_.traced) else cycles
    val batch = timed.flatMap(_.batchS).toSeq
    val tail = Stats.tailPct(batch.size)
    val docsPerS = CorpusDocs * timed.size / timed.map(_.oneshotS).sum
    val p50 = Stats.median(batch)
    val tailS = Stats.percentile(batch, tail)
    val oneshot = Stats.median(timed.map(_.oneshotS).toSeq)
    val rss = Stats.peakRssMb()
    res.e2e ++= Seq("setup_s" -> (setupS, "s"), "throughput" -> (docsPerS, "1/s"),
      "step_mean_ms" -> (Stats.mean(batch.toSeq) * 1000, "ms"),
      "cycle_s" -> (oneshot, "s"), "live_heap_mb" -> (liveHeap, "MB"))
    res.named ++= Seq("setup_s" -> (setupS, "s"),
      "failed_frac" -> (failed.toDouble / attempted, "frac"), "peak_rss_mb" -> (rss, "MB"), "live_heap_mb" -> (liveHeap, "MB"),
      "dedup_docs_per_s" -> (docsPerS, "1/s"), "batch_dedup_mean_s" -> (Stats.mean(batch), "s"), "batch_dedup_p50_s" -> (p50, "s"),
      "batch_dedup_tail_s" -> (tailS, "s"), "batch_tail_pct" -> (tail.toDouble, "pct"),
      "oneshot_s" -> (oneshot, "s"), "cycles" -> (timed.size.toDouble, "count"),
      "exact_rate" -> (ExactRate, "frac"), "near_rate" -> (NearRate, "frac"),
      "batch_exact_rate" -> (BatchExactRate, "frac"), "batch_near_rate" -> (BatchNearRate, "frac"),
      "cores" -> (Main.Cores.toDouble, "count")) ++
      in.planted.map { case (k, v) => k -> (v.toDouble, "count") }
    if (ctx.trace) layers(ctx, res, cycles.toSeq, in)
    res
  }

  private def layers(ctx: Ctx, res: Result, cycles: Seq[Cycle], in: Input): Unit = {
    val spark = ctx.spark
    val tr = cycles.filter(_.traced)
    val k = tr.size
    val stages = Trace.settledStages()
    val spans = Trace.spans.toArray(Array.empty[Span]).toSeq
    val out = mutable.Map.empty[String, Double]
    Layers.DedupSpans.foreach(s => Layers.spanShape(out, s, spans, stages, k))
    out("dedup.candidates") = candidates.toDouble / k
    out("dedup.verified") = verified.toDouble / k
    out("dedup.verify_yield") = if (candidates > 0) verified.toDouble / candidates else 0.0
    val tables = Seq("freq", "members", "grams", "prefix")
    val docs = CorpusDocs + Batches * BatchDocs
    out("index.files") = tr.map(c => Stats.dataFiles(new File(s"${c.dir}/index"))).sum.toDouble / k
    out("index.bytes_per_doc") = tr.map(c => tables.map(t =>
      Stats.dirBytes(new File(s"${c.dir}/index/$t")) - Stats.dirBytes(new File(s"${c.dir}/index/$t/_log"))).sum)
      .sum.toDouble / k / docs
    out("index.commits") = tr.map(c => tables.map(t =>
      VersionedTable.latestVersion(spark, s"${c.dir}/index/$t").getOrElse(0L)).sum).sum.toDouble / k
    out("gc_s") = tr.map(_.gcS).sum / k
    Layers.split(out, k)
    def total(c: Cycle) = c.oneshotS + c.batchS.sum
    out("trace.overhead_frac") =
      Stats.median(tr.map(total)) / Stats.median(cycles.filterNot(_.traced).map(total)) - 1.0
    Layers.fill(res, out)
    Trace.dump(new File(ctx.work, "trace.jsonl"))
  }
}
