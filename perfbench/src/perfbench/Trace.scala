package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from the benchmark's side. */
final class Span(val id: Int, val name: String, val parent: Int,
    val cycle: Int, val startNs: Long) {
  @volatile var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One completed Spark stage, with the span / streaming wave it ran for and
  * the module its call site belongs to.
  */
final case class StageRec(stageId: Int, span: Int, query: String, batch: Long,
    startMs: Long, endMs: Long, tasks: Int, runMs: Long, shuffleWrite: Long,
    spill: Long, module: String)

/** The traced run's collector: spans kept in memory, a SparkListener that
  * records every stage submitted while tracing is on, and a
  * QueryExecutionListener that hands back executed plans for SQL metrics.
  *
  * Spark jobs are tagged with their span through the thread-local job
  * property [[SpanKey]]; streaming jobs carry their query and batch ids
  * the same way. Stage time is attributed to a module by the first frame of
  * the stage's call stack that lies in a known program file, so time inside
  * one public call splits by the modules it reaches without tracing inside
  * the program.
  */
object Trace {
  val SpanKey = "perfbench.span"

  @volatile var on = false
  @volatile var cycle = 0
  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  private val ids = new AtomicInteger
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val jobProps = new ConcurrentHashMap[Integer, java.util.Properties]()
  private val plans = new LinkedBlockingQueue[(String, QueryExecution)]()

  /** Program file → module. Files not listed (VersionedTable, Lineage, the
    * planner helpers) are substrate: their stages go to the nearest listed
    * caller.
    */
  val FileModule: Map[String, String] = Map(
    "WorkQueueLedger.scala" -> "ledger",
    "WorkQueueSource.scala" -> "queue_source",
    "WorkQueueMicroBatchStream.scala" -> "queue_source",
    "StreamingRunner.scala" -> "dispatcher",
    "ItemStore.scala" -> "itemstore",
    "Runner.scala" -> "runner",
    "ScriptRunner.scala" -> "runner",
    "LogRouter.scala" -> "logroute",
    "Importer.scala" -> "import",
    "StateQueries.scala" -> "queries",
    "JobStates.scala" -> "queries",
    "Mutations.scala" -> "ops",
    "Dedup.scala" -> "dedup",
    "DedupIndex.scala" -> "dedup_index")

  val Modules: Seq[String] = FileModule.values.toSeq.distinct.sorted :+ "other"

  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  /** Module of the first listed file among `files`, innermost first. */
  def moduleOf(files: Iterator[String]): String =
    files.collectFirst { case f if FileModule.contains(f) => FileModule(f) }.getOrElse("other")

  def moduleOf(callStack: String): String =
    moduleOf(Frame.findAllMatchIn(callStack).map(_.group(1)))

  /** The module a harness span calls into. */
  def spanModule(name: String): String = name match {
    case "import" => "import"
    case "run" | "exec.execute" | "merge" => "runner"
    case "logroute" => "logroute"
    case "reset" => "ops"
    case n if n.startsWith("monitor.") => "queries"
    case n if n.startsWith("dedup.") => "dedup"
    case n if n.startsWith("index.") => "dedup_index"
    case _ => "other"
  }

  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), name,
        if (parent == null) 0 else parent.id, cycle, System.nanoTime())
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      current.set(s)
      if (Thread.currentThread() eq mainThread) innerSpan = s
      try body
      finally {
        s.endNs = System.nanoTime()
        spans.add(s)
        current.set(parent)
        if (Thread.currentThread() eq mainThread) innerSpan = parent
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (on && e.properties != null)
          e.stageIds.foreach(id => jobProps.putIfAbsent(id, e.properties))

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val p = jobProps.remove(i.stageId)
        if (p != null && i.submissionTime.isDefined && i.completionTime.isDefined) {
          val m = i.taskMetrics
          stages.add(StageRec(i.stageId,
            Option(p.getProperty(SpanKey)).map(_.toInt).getOrElse(0),
            Option(p.getProperty("sql.streaming.queryId")).getOrElse(""),
            Option(p.getProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L),
            i.submissionTime.get, i.completionTime.get, i.numTasks,
            if (m == null) 0L else m.executorRunTime,
            if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
            if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
            moduleOf(i.details)))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (on) { plans.put(funcName -> qe); () }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Run `body` and return the executed plan of its action: the first
    * `funcName` execution that `accept`s, since listener delivery is
    * asynchronous and an earlier action's event may still arrive. None when
    * tracing is off.
    */
  def planOf(funcName: String, accept: QueryExecution => Boolean)(body: => Unit)
      : Option[QueryExecution] = {
    plans.clear()
    body
    if (!on) None
    else {
      val deadline = System.nanoTime() + 10000000000L
      var found: Option[QueryExecution] = None
      while (found.isEmpty && System.nanoTime() < deadline) {
        Option(plans.poll(100, TimeUnit.MILLISECONDS)).foreach { case (f, qe) =>
          if (f == funcName && accept(qe)) found = Some(qe)
        }
      }
      found
    }
  }

  /** Stage records whose listener events have arrived; waits briefly so
    * the last stages of a cycle are in.
    */
  def settledStages(): Seq[StageRec] = {
    Thread.sleep(300)
    stages.asScala.toSeq
  }

  /** Stack sampler for the time split. Every [[SamplePeriodMs]] it reads the
    * stacks of the threads that block on the program — the benchmark's own
    * thread inside a span, and each streaming dispatcher thread inside a
    * trigger — and files the sample under the module of the innermost
    * program frame, as `stage` time when the thread is parked waiting on
    * Spark jobs and as `driver` time otherwise. Streaming jobs all carry
    * their query's start() call site, so for dispatchers this is what
    * splits a wave by module.
    */
  val SamplePeriodMs = 20L
  /** Sampled nanoseconds by (module, stage|driver). */
  val samples = new ConcurrentHashMap[(String, String), java.lang.Long]()
  @volatile private var mainThread: Thread = null
  @volatile private var innerSpan: Span = null
  @volatile private var sampling = false
  private var sampler: Thread = null

  private val WaitFrames = Seq("JobWaiter", "DAGScheduler.runJob", "awaitReady",
    "awaitResult", "AdaptiveSparkPlanExec.getFinalPhysicalPlan", "LinkedBlockingQueue.take")

  private def activeTrigger(st: Array[StackTraceElement]): Boolean =
    st.exists(f => f.getClassName.endsWith("MicroBatchExecution") &&
      (f.getMethodName.contains("runBatch") || f.getMethodName.contains("constructNextBatch")))

  private def sampleOnce(streams: Seq[Thread], weightNs: Long): Unit = {
    val main = mainThread
    val threads = (if (main != null && innerSpan != null) Seq(main) else Nil) ++ streams
    threads.foreach { t =>
      val st = t.getStackTrace
      if ((t eq main) || activeTrigger(st)) {
        val inner = innerSpan
        val module = moduleOf(st.iterator.map(_.getFileName)) match {
          // the harness itself ran the action on a lazily built plan: the
          // span says which layer built it
          case "other" if (t eq main) && inner != null => spanModule(inner.name)
          case m => m
        }
        val text = st.take(40).map(f => s"${f.getClassName}.${f.getMethodName}").mkString(" ")
        val waiting = t.getState != Thread.State.RUNNABLE && WaitFrames.exists(text.contains)
        samples.merge((module, if (waiting) "stage" else "driver"), weightNs, (a, b) => a + b)
      }
    }
  }

  /** Start sampling `main` (inside spans) and every dispatcher thread. Each
    * sample is weighted by the time since the previous one.
    */
  def startSampler(main: Thread): Unit = {
    mainThread = main
    sampling = true
    val t = new Thread(() => {
      var streams = Seq.empty[Thread]
      var listed = 0L
      var last = System.nanoTime()
      while (sampling) {
        val now = System.nanoTime()
        if (now - listed > 200000000L) {
          streams = Thread.getAllStackTraces.keySet.asScala.toSeq
            .filter(_.getName.startsWith("stream execution thread"))
          listed = now
        }
        if (on) try sampleOnce(streams, now - last) catch { case _: Exception => () }
        last = now
        Thread.sleep(SamplePeriodMs)
      }
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
    sampler = t
  }

  def stopSampler(): Unit = if (sampler != null) { sampling = false; sampler.join() }

  /** Sampled seconds by (module, stage|driver). */
  def sampledSeconds(): Map[(String, String), Double] =
    samples.asScala.map { case (k, v) => k -> v / 1e9 }.toMap

  /** Total length of the union of [start, end) intervals, seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def stageUnion(st: Seq[StageRec]): Double = unionSeconds(st.map(s => (s.startMs, s.endMs)))

  /** Spans and stages as JSON lines, for reading a traced run by hand. */
  def dump(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file)
    try {
      spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"span": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
          s""""run": "$runId", "cycle": ${s.cycle}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
      }
      stages.asScala.toSeq.sortBy(_.startMs).foreach { s =>
        w.println(s"""{"stage": ${s.stageId}, "span": ${s.span}, "query": "${s.query}", """ +
          s""""batch": ${s.batch}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
          s""""tasks": ${s.tasks}, "run_ms": ${s.runMs}, "shuffle_write": ${s.shuffleWrite}, """ +
          s""""spill": ${s.spill}, "module": "${s.module}"}""")
      }
    } finally w.close()
  }
}
