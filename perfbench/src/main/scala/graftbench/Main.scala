package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.{CorpusJob, GraftSession, SparkEntry}

/** Benchmark entry point: one JVM, one client thread, one workload.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <seeded input dir> --fixed <fixed corpus dir> --work <work dir>
  *   --out <result json>
  * graftbench.Main --record-goldens <file> --fixed <dir>
  * }}}
  *
  * The untraced run (`--trace 0`) reports the end-to-end metrics; the
  * traced run attaches the Spark listeners for set-up and the measurement
  * window and reports the per-layer metrics. Both write one result record to
  * `--out`; the exit code is 1 when a correctness check failed. */
object Main {
  /** Graft source files that get their own `stage_s.<File>` metric; any
    * other call site is summed into `stage_s.other`. */
  val StageFiles: Seq[String] = Seq("VectorStore", "VectorStoreLex",
    "IngestJob", "CorpusJob", "Tables", "KnowledgeFiles", "ZoneMaps",
    "KbTxtDataSource", "Dedup", "TextAnalysis", "Analytics", "AnalyticsExt",
    "Sketches", "Similarity", "Knowledge", "Multimodal")

  val StoreCalls: Seq[String] = Seq("search", "searchCells", "searchSq8Cells",
    "searchCompressedCells", "searchBatch", "ingest", "delete", "edit")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      if (opt.contains("record-goldens")) { recordGoldens(opt); 0 }
      else run(opt)
    sys.exit(code)
  }

  private def session() = {
    val spark = GraftSession.build("graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(opt: Map[String, String]): Int = {
    val workload = opt("workload")
    val make = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.all.keys.toSeq.sorted}"))
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val t0 = System.nanoTime()
    val spark = session()
    val cores = spark.sparkContext.defaultParallelism
    val tracer = new Tracer(traced, s"$workload-$seed-${if (traced) "t" else "u"}")
    val ctx = new Ctx(spark, seed, opt("seconds").toDouble, opt("data"),
      opt("fixed"), opt("work"), cores, tracer,
      if (traced) Some(new SparkTrace(spark, tracer, cores)) else None)
    if (traced) {
      tracer.onCurrent = id => spark.sparkContext.setLocalProperty(SparkTrace.SpanProp,
        if (id == 0) null else id.toString)
      ctx.sparkTrace.foreach(_.attach())
    }
    val wl = make()
    val tSession = System.nanoTime()
    tracer.span("setup.fixture")(wl.setup(ctx))
    val tFixture = System.nanoTime()
    tracer.span("setup.warm")(wl.warm(ctx))
    ctx.heapCheckpoint(dropCaches = false)
    val tWarm = System.nanoTime()
    val setupS = (tWarm - t0) / 1e9
    ctx.detail("setup.session_s") = (tSession - t0) / 1e9
    ctx.detail("setup.fixture_s") = (tFixture - tSession) / 1e9
    ctx.detail("setup.warm_s") = (tWarm - tFixture) / 1e9
    val gc0 = Jvm.gcSeconds
    ctx.sparkTrace.foreach(_.startWindow())
    ctx.startWindow()
    tracer.span("window")(wl.measure(ctx))
    val windowS = ctx.windowS
    val gcS = Jvm.gcSeconds - gc0
    ctx.sparkTrace.foreach(_.detach())
    tracer.onCurrent = _ => ()
    tracer.span("verify")(wl.verify(ctx))
    // a failed op has no output to check, so it fails the gate itself
    ctx.failures.foreach(f => ctx.check(false, s"op failed: $f"))
    ctx.heapCheckpoint(dropCaches = true)
    val head = wl.headline(ctx)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("op_ms") = (head.opMs, "ms")
      metrics("work_per_s") = (head.workPerS, "1/s")
      metrics("heap_after_gc_peak_mb") = (ctx.heapPeakMb, "MB")
    } else layerMetrics(ctx, metrics, windowS, gcS, head.opMs)

    val rec = new ObjectMapper().createObjectNode()
    rec.put("correct", ctx.checkFailures.isEmpty)
    rec.put("attempted", ctx.ops.size)
    rec.put("failed", ctx.ops.count(!_.ok))
    val m = rec.putObject("metrics")
    metrics.foreach { case (k, (v, u)) => m.putObject(k).put("value", v).put("unit", u) }
    rec.put("workload", workload).put("seed", seed).put("trace", traced)
      .put("nproc", Runtime.getRuntime.availableProcessors).put("cores", cores)
      .put("seconds", ctx.seconds).put("window_s", windowS).put("checks", ctx.checks)
      .put("sf", opt.getOrElse("sf", ""))
    rec.put("failed_op_ratio", ctx.ops.count(!_.ok).toDouble / math.max(1, ctx.ops.size))
    val d = rec.putObject("detail")
    ctx.detail.foreach { case (k, v) => d.put(k, v) }
    d.put("op_ms", head.opMs)
    Stats.tailPct(head.ops.size).foreach { p =>
      d.put("op_tail_pct", p).put("op_tail_ms", 1e3 * Stats.pct(head.ops, p / 100.0, windowS))
    }
    d.put("op_samples", head.ops.size)
    d.put("heap_after_gc_peak_mb", ctx.heapPeakMb)
    ctx.failures.foreach(rec.withArray("failures").add(_))
    ctx.checkFailures.take(50).foreach(rec.withArray("check_failures").add(_))
    val conf = rec.putObject("conf")
    spark.conf.getAll.toSeq.sorted.foreach { case (k, v) =>
      if (k.startsWith("graft.") || k.startsWith("spark.sql.")) conf.put(k, v)
    }
    Option(System.getenv("SPARK_GRAFT_CPUS")).foreach(conf.put("env.SPARK_GRAFT_CPUS", _))
    ctx.sparkTrace.foreach(moduleTable(rec, _))
    if (traced) writeSpans(tracer, s"${opt("work")}/spans.json")
    Files.writeString(Paths.get(opt("out")), rec.toString)
    spark.stop()
    if (ctx.checkFailures.isEmpty) 0 else 1
  }

  /** Per-layer metrics over the measurement window; the two `setup.`
    * figures cover session start, fixture build and warm-up. */
  private def layerMetrics(ctx: Ctx, m: mutable.LinkedHashMap[String, (Double, String)],
      windowS: Double, gcS: Double, opMs: Double): Unit = {
    val st = ctx.sparkTrace.get
    def put(k: String, v: Double, u: String): Unit = m(k) = (v, u)
    object t { def count(k: String): Double = st.windowCount(k) }
    for (k <- Seq("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s"))
      put(k, t.count(k), "s")
    put("catalyst.queries", t.count("catalyst.queries"), "count")
    put("codegen.compile_s", st.compileS, "s")
    put("codegen.compiles", st.compiles.toDouble, "count")
    for (k <- Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks"))
      put(k, t.count(k), "count")
    put("scheduler.jobs_per_op", t.count("scheduler.jobs") / math.max(1, ctx.ops.size), "count")
    put("scheduler.task_s", t.count("scheduler.task_s"), "s")
    put("scheduler.busy_ratio", t.count("scheduler.task_s") / (windowS * ctx.cores), "ratio")
    for (k <- Seq("shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
        "sources.input_bytes", "sources.output_bytes"))
      put(k, t.count(k), "bytes")
    put("sources.files_read", t.count("sources.files_read"), "count")
    put("sources.files_written", t.count("sources.files_written"), "count")
    put("operators.build_s", ctx.detail.getOrElse("operators.build_s", 0.0), "s")
    put("operators.build_jobs", t.count("jobs.build"), "count")
    put("operators.exec_s", ctx.detail.getOrElse("operators.exec_s", 0.0), "s")
    for (c <- StoreCalls)
      put(s"VectorStore.${c}_s", ctx.storeCalls.get(c).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0), "s")
    put("VectorStore.rows_scanned_per_result",
      if (ctx.resultRows > 0) ctx.scanRows / ctx.resultRows else 0.0, "ratio")
    val byFile = st.stagesIn("window").groupBy(_.module)
      .map { case (f, ss) => f -> ss.map(_.wallS).sum }
    for (f <- StageFiles) put(s"stage_s.$f", byFile.getOrElse(f, 0.0), "s")
    put("stage_s.other", byFile.filter { case (f, _) => !StageFiles.contains(f) }.values.sum, "s")
    put("jvm.gc_s", gcS, "s")
    put("setup.codegen.compile_s", st.setupCompileS, "s")
    put("setup.stage_s", st.stagesIn("setup").map(_.wallS).sum, "s")
    put("trace.op_ms", opMs, "ms")
    put("trace.listener_s", st.listenerNs.sum / 1e9, "s")
    put("trace.spans", ctx.tracer.spans.size.toDouble, "count")
  }

  /** Per-file stage time of each phase, split into fixed cost (the part
    * of each stage's wall its task time cannot fill) and data-proportional
    * cost (task time over all cores), plus the window's Catalyst time. */
  private def moduleTable(rec: ObjectNode, st: SparkTrace): Unit = {
    for (phase <- Seq("setup", "window")) {
      val tab = rec.putObject(s"module_table_$phase")
      st.stagesIn(phase).groupBy(_.module).toSeq.sortBy(-_._2.map(_.wallS).sum).foreach {
        case (f, ss) =>
          val fixed = ss.map(_.fixedS).sum
          val wall = ss.map(_.wallS).sum
          tab.putObject(f).put("stages", ss.size).put("stage_s", wall)
            .put("fixed_s", fixed).put("data_s", wall - fixed).put("task_s", ss.map(_.taskS).sum)
      }
    }
    rec.put("window_planning_s", Seq("catalyst.analysis_s", "catalyst.optimization_s",
      "catalyst.planning_s").map(st.windowCount).sum)
  }

  private def writeSpans(t: Tracer, path: String): Unit = {
    val root = new ObjectMapper().createObjectNode()
    root.put("run_id", t.runId)
    val arr = root.putArray("spans")
    t.spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
    }
    val c = root.putObject("counts")
    t.countsSnapshot.toSeq.sorted.foreach { case (k, v) => c.put(k, v) }
    Files.writeString(Paths.get(path), root.toString)
  }

  /** Record the goldens: every registry key's result digest and
    * CorpusJob.run's stage audit over the fixed corpus. */
  private def recordGoldens(opt: Map[String, String]): Unit = {
    val spark = session()
    val fixed = opt("fixed")
    val corpusOut = Files.createTempDirectory("corpus").toString
    val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      SparkEntry.queries.keys.toSeq.sorted.map(k =>
        k -> (() => SparkEntry.queries(k)(spark, fixed))) :+
        ("CorpusJob.run" -> (() => CorpusJob.run(spark, fixed, corpusOut)))
    val sweep = runs.flatMap { case (k, fn) =>
      spark.catalog.clearCache()
      try Some(k -> Goldens.summarize(fn()))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[golden] $k failed: ${e.getMessage}")
        None
      }
    }.toMap
    Files.writeString(Paths.get(opt("record-goldens")), Goldens.toJson(sweep) + "\n")
    System.err.println(s"[golden] ${sweep.size} keys recorded")
    spark.stop()
  }
}
