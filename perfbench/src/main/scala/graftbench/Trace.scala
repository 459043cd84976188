package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `parent` is the enclosing span's id (0 at the root);
  * every span of one run carries the run id. */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** Spans and counts of one run, kept in memory and written when the run
  * ends. With `enabled = false` spans still time their body (the
  * workloads need the walls) but nothing is recorded and no listener is
  * attached, so an untraced run carries no tracing cost. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[String, DoubleAdder]()

  /** Called with the innermost open span id whenever it changes, so
    * Spark jobs can name the span that started them. */
  @volatile var onCurrent: Long => Unit = _ => ()

  def currentSpan: Long = stack.get.headOption.getOrElse(0L)

  /** Time `body` as span `name`; returns (result, seconds). */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = nextId.getAndIncrement()
    val parent = currentSpan
    if (enabled) { stack.set(id :: stack.get); onCurrent(id) }
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      if (enabled) {
        stack.set(stack.get.tail)
        onCurrent(parent)
        spans.add(Span(id, parent, name, t0, t1))
      }
    }
  }

  def add(name: String, v: Double): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def add(name: String, v: Long): Unit = add(name, v.toDouble)

  def count(name: String): Double =
    Option(counts.get(name)).map(_.sum).getOrElse(0.0)

  def countsSnapshot: Map[String, Double] =
    counts.asScala.map { case (k, v) => k -> v.sum }.toMap
}

/** Per-stage record kept by [[SparkTrace]] for the module time table;
  * `phase` is "setup" or "window". */
final case class StageRec(phase: String, module: String, wallS: Double,
    taskS: Double, fixedS: Double)

/** The Spark-side instruments of a traced run: a SparkListener for jobs,
  * stages, tasks, shuffle, spill and source bytes, a
  * QueryExecutionListener for Catalyst phase times and scan/write file
  * counts, and the codegen compile counters. Each callback's own time is
  * summed so the run can report what the instruments cost. */
final class SparkTrace(spark: SparkSession, tracer: Tracer, cores: Int) {
  import SparkTrace._

  val listenerNs = new LongAdder
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  // listener times are epoch millis; spans are on the nanoTime clock
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val setupCompileNs0 = CodeGenerator.compileTime
  private var compileNs0 = setupCompileNs0
  private var compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  @volatile private var phase = "setup"
  /** Counts at the start of the window; window figures are deltas. */
  private var base: Map[String, Double] = Map.empty

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally listenerNs.add(System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      tracer.add("scheduler.jobs", 1)
      val label = Option(e.properties).flatMap(p =>
        Option(p.getProperty(ModuleProp))).getOrElse("")
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (parent, e.time * 1000000L + epochToNano))
      e.stageInfos.foreach(s => stageModule.put(s.stageId, label))
      Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .foreach(op => tracer.add(s"jobs.$op", 1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStart.remove(e.jobId)).foreach { case (parent, t0) =>
        tracer.spans.add(Span(-1L - e.jobId, parent, "spark.job", t0,
          e.time * 1000000L + epochToNano))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      tracer.add("scheduler.stages", 1)
      tracer.add("scheduler.tasks", si.numTasks)
      val m = si.taskMetrics
      val taskS = if (m == null) 0.0 else m.executorRunTime / 1e3
      val wallS = (for (a <- si.submissionTime; b <- si.completionTime)
        yield (b - a) / 1e3).getOrElse(0.0)
      if (m != null) {
        tracer.add("scheduler.task_s", taskS)
        tracer.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        tracer.add("shuffle.read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        tracer.add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        tracer.add("sources.input_bytes", m.inputMetrics.bytesRead)
        tracer.add("sources.output_bytes", m.outputMetrics.bytesWritten)
      }
      si.accumulables.values.foreach { a =>
        if (a.name.contains("files_written"))
          a.value.foreach(v => tracer.add("sources.files_written",
            v.toString.toDouble))
      }
      val module = moduleOf(si, stageModule.getOrDefault(si.stageId, ""))
      // data-proportional share: task time spread over every core; the
      // rest of the stage's wall is fixed cost (scheduling, task launch,
      // serialization, idle cores while a few tasks finish)
      val dataS = math.min(wallS, taskS / cores)
      stages.add(StageRec(phase, module, wallS, taskS, wallS - dataS))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = timed(record(qe))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = timed(record(qe))
  }

  private def record(qe: QueryExecution): Unit = {
    tracer.add("catalyst.queries", 1)
    val phases = qe.tracker.phases
    def seconds(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3)
      .getOrElse(0.0)
    tracer.add("catalyst.analysis_s", seconds(QueryPlanningTracker.ANALYSIS))
    tracer.add("catalyst.optimization_s", seconds(QueryPlanningTracker.OPTIMIZATION))
    tracer.add("catalyst.planning_s", seconds(QueryPlanningTracker.PLANNING))
    nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        s.metrics.get("numFiles").foreach(m => tracer.add("sources.files_read", m.value))
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(m =>
          tracer.add("sources.files_written", m.value))
      case _ =>
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** The window ends: freeze the codegen figures (JVM-wide counters that
    * the checks after the window would keep raising), then detach once
    * every queued event has been handled. */
  def detach(): Unit = {
    compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
    compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    waitForListeners()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Let the asynchronous listener bus catch up before counts are read. */
  def waitForListeners(): Unit =
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  /** Set-up ends: later stages, compiles and counts belong to the window. */
  def startWindow(): Unit = {
    waitForListeners()
    phase = "window"
    setupCompileS = (CodeGenerator.compileTime - setupCompileNs0) / 1e9
    compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    base = tracer.countsSnapshot
  }

  var setupCompileS = 0.0
  /** Codegen compile time and count over the window, set by `detach`. */
  var compileS = 0.0
  var compiles = 0L
  /** A tracer count over the window only. */
  def windowCount(k: String): Double = tracer.count(k) - base.getOrElse(k, 0.0)
  def stagesIn(p: String): Seq[StageRec] = stages.asScala.filter(_.phase == p).toSeq
}

object SparkTrace {
  /** Job-local property naming the graft module the harness is calling,
    * for stages whose call site is the harness itself. */
  val ModuleProp = "graftbench.module"
  /** Job-local property naming the harness operation (jobs per op). */
  val OpProp = "graftbench.op"
  /** Job-local property carrying the innermost harness span id. */
  val SpanProp = "graftbench.span"

  /** Every node of an executed plan, through adaptive and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++
      other.subqueries.flatMap(nodes))
  }

  /** Rows the file scans of an executed read produced. */
  def scanRows(df: org.apache.spark.sql.DataFrame): Double =
    nodes(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec =>
      s.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    }.sum

  private val GraftFrame = """graft\.[\w.$]*\((\w+)\.scala:\d+\)""".r

  /** The graft source file a stage's work comes from: the first graft
    * frame of its call site, else the module the harness labelled. */
  def moduleOf(si: StageInfo, label: String): String = {
    val fromStack = GraftFrame.findAllMatchIn(Option(si.details).getOrElse(""))
      .map(_.group(1)).find(_ != null)
    fromStack.orElse(Option(label).filter(_.nonEmpty)).getOrElse("other")
  }
}

/** JVM-wide GC and heap instruments (read in every run). */
object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcSeconds: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-gen bytes in use after full collections. Spark's cleaner frees
    * broadcast and shuffle blocks only after a collection has found their
    * handles dead, and asynchronously, so collections repeat (up to six)
    * until the figure stops falling by more than 1 MB. */
  def checkpointMb(): Double = {
    def collect(): Double = {
      System.gc()
      oldPools.map(_.getUsage.getUsed).sum / 1048576.0
    }
    var last = collect()
    var cur = { Thread.sleep(300); collect() }
    var tries = 2
    while (tries < 6 && cur < last - 1.0) {
      last = cur
      Thread.sleep(300)
      cur = collect()
      tries += 1
    }
    cur
  }
}
