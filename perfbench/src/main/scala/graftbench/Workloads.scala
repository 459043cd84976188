package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{CorpusJob, IngestJob, SparkEntry}
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A workload builds its fixture in `setup`, warms the JVM and the plan
  * caches in `warm`, then runs its closed loop (one client waiting on
  * each reply) until the measurement window ends, then `verify` checks
  * what the window produced. `headline` maps the op
  * log to the headline metrics; workload-specific figures go to
  * `ctx.detail`. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def warm(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
  /** Output checks that need extra queries run after the window. */
  def verify(ctx: Ctx): Unit
  /** The headline metrics' inputs, taken from the op log. */
  def headline(ctx: Ctx): Headline
}

/** `ops` are the latency samples (their count and tail go to the run
  * record), `opMs` the workload's op_ms, `workPerS` its work_per_s. */
final case class Headline(ops: Seq[OpRec], opMs: Double, workPerS: Double)

object Workloads {
  val all: Map[String, () => Workload] = Map(
    "store_serve" -> (() => new StoreServe),
    "operator_sweep" -> (() => new OperatorSweep))

  /** Registry object of each SparkEntry key, for stage attribution. */
  lazy val moduleOfKey: Map[String, String] = Seq(
    "Analytics" -> Analytics.queries, "AnalyticsExt" -> AnalyticsExt.queries,
    "Sketches" -> Sketches.queries, "Knowledge" -> Knowledge.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "Multimodal" -> Multimodal.queries)
    .flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  val Vocab: Array[String] = ("join hash row batch scan customer column filter " +
    "small slow merge order vector line data table agg value key stream " +
    "window spark a group part big sort query fast the").split(" ")

  /** A seed-perturbed copy of `text`: a unique lead token, then ~20% of
    * the words swapped for vocabulary words. */
  def perturb(rng: scala.util.Random, text: String, tag: String): String =
    (tag +: text.split(" ").toSeq.map(w =>
      if (rng.nextDouble() < 0.2) Vocab(rng.nextInt(Vocab.length)) else w))
      .mkString(" ")

  def randomText(rng: scala.util.Random, words: Int): String =
    Seq.fill(words)(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
}

/** The knowledge pipeline's user path: set-up ingests the first week of a
  * seed-generated events month with IngestJob (export files, #EDIT
  * resolution, chunk + embed + index), then one client runs a closed loop
  * on that store: single-query reads rotating over four read paths, a
  * 40-query searchBatch and a write (an append or an edit, which deletes
  * and re-adds) in every ten requests. */
final class StoreServe extends Workload {
  private val K = 10
  private val BootstrapDays = 7
  private var out = ""
  private def index = s"$out/index"
  private val texts = mutable.LinkedHashMap.empty[Long, String]
  private val deleted = mutable.Set.empty[Long]
  private val written = mutable.LinkedHashSet.empty[Long]
  private var queries: IndexedSeq[String] = IndexedSeq.empty
  private var nextId = 10000000L
  private val Writes = IndexedSeq("append", "edit")
  private var writes = 0
  private var readKind = 0
  private val Reads = IndexedSeq("search", "searchCells", "searchSq8Cells",
    "searchCompressedCells")

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    out = s"${ctx.workDir}/kb"
    // the batch's data dir: the events of the bootstrap days (links to
    // the per-day files) and the shared documents and customer tables
    val batch = Paths.get(ctx.workDir, "bootstrap")
    val ev = Files.createDirectories(batch.resolve("events.parquet"))
    for (d <- 0 until BootstrapDays) {
      val dir = Paths.get(ctx.dataDir, "event_days", s"day=$d")
      if (Files.isDirectory(dir)) Files.list(dir).iterator.asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(f => Files.createLink(ev.resolve(s"d${d}_${f.getFileName}"), f))
    }
    for (t <- Seq("documents", "customer"))
      Files.createLink(batch.resolve(s"$t.parquet"), Paths.get(ctx.dataDir, s"$t.parquet"))
    val t0 = System.nanoTime()
    val (files, chunks, _) = ctx.labelled("IngestJob")(IngestJob.run(spark, batch.toString, out))
    ctx.detail("ingest_chunks_per_s") = chunks / ((System.nanoTime() - t0) / 1e9)
    ctx.detail("ingest_chunks") = chunks.toDouble
    ctx.detail("ingest_files") = files.toDouble
    ctx.labelled("harness") {
      verifyIngest(ctx, batch.toString)
      // IngestJob indexes each event under its own id with the text of
      // document event_id % 500 as its one knowledge block
      val docText = graft.sources.Tables.documents(spark, ctx.dataDir)
        .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      spark.read.parquet(index).select("doc_id").distinct().collect()
        .map(_.getLong(0)).sorted.foreach(id => texts(id) = docText(id % 500))
    }
    val textBytes = texts.values.map(_.getBytes("UTF-8").length.toLong).sum
    ctx.detail("store_bytes_per_text_byte") = Workloads.dirBytes(index).toDouble / textBytes
    val ids = texts.keys.toIndexedSeq
    queries = IndexedSeq.fill(200) {
      if (ctx.rng.nextBoolean())
        texts(ids(ctx.rng.nextInt(ids.size))).split(" ").take(20).mkString(" ")
      else Workloads.randomText(ctx.rng, 8)
    }
  }

  /** No (doc_id, chunk_ix) twice after the #EDIT handling, and exactly one
    * export file per (event, ordinal) of the batch (each synthesized
    * message holds one knowledge block, ordinal 01). */
  private def verifyIngest(ctx: Ctx, batchDir: String): Unit = {
    val spark = ctx.spark
    val dups = spark.read.parquet(index).groupBy("doc_id", "chunk_ix")
      .count().filter(col("count") > 1).count()
    ctx.check(dups == 0, s"ingest: $dups duplicate (doc_id, chunk_ix)")
    val expected = graft.sources.Tables.events(spark, batchDir)
      .select(concat(lit("events_"), date_format(col("ts"), "yyyyMMdd"), lit("_"),
        expr("unix_micros(ts) div 1000000"), lit("_"),
        lpad(expr("unix_micros(ts) % 1000000"), 6, "0"), lit("_01.txt")))
      .collect().map(_.getString(0)).toSet
    val files = spark.read.format("graft-kbtxt").load(s"$out/knowledge")
      .select("file").collect().map(_.getString(0)).toSeq
    ctx.check(expected.nonEmpty && files.size == files.toSet.size && files.toSet == expected,
      s"ingest: ${files.size} export files (${files.toSet.size} distinct) " +
        s"vs ${expected.size} expected (event, ordinal) pairs")
  }

  private def query(ctx: Ctx): String = queries(ctx.rng.nextInt(queries.size))

  private def read(ctx: Ctx, kind: String, q: String): DataFrame = {
    val s = ctx.spark
    kind match {
      case "search" => VectorStore.search(s, index, q, K)
      case "searchCells" => VectorStore.searchCells(s, index, q, K)
      case "searchSq8Cells" => VectorStore.searchSq8Cells(s, index, q, K)
      case "searchCompressedCells" => VectorStore.searchCompressedCells(s, index, q, K)
    }
  }

  /** Ranks are 1..n, scores never increase, no deleted doc comes back. */
  private def checkRanking(ctx: Ctx, what: String, rows: Seq[Row]): Unit = {
    val ranks = rows.map(_.getAs[Number]("rank").intValue)
    val scores = rows.map(_.getAs[Double]("score"))
    ctx.check(ranks == (1 to rows.size), s"$what: ranks $ranks")
    ctx.check(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b - 1e-12 },
      s"$what: scores increase $scores")
    val back = rows.map(_.getAs[Long]("doc_id")).filter(deleted)
    ctx.check(back.isEmpty, s"$what: deleted docs returned $back")
  }

  private def singleRead(ctx: Ctx, timed: Boolean): Unit = {
    val kind = Reads(readKind % Reads.size)
    readKind += 1
    val q = query(ctx)
    def body = ctx.store(kind)(ctx.collectRead(read(ctx, kind, q)).toSeq)
    val rows = if (timed) ctx.op[Seq[Row]](s"read.$kind", "VectorStore")(body)
      else Some(ctx.labelled("VectorStore")(body))
    rows.foreach(r => checkRanking(ctx, s"$kind('$q')", r))
  }

  private def batchRead(ctx: Ctx, timed: Boolean): Unit = {
    val qs = IndexedSeq.fill(40)(query(ctx))
    def body = ctx.store("searchBatch")(
      ctx.collectRead(VectorStore.searchBatch(ctx.spark, index, qs, K)).toSeq)
    val rows = if (timed) ctx.op[Seq[Row]]("batch_read", "VectorStore")(body)
      else Some(ctx.labelled("VectorStore")(body))
    rows.foreach(_.groupBy(_.getAs[Number]("query_id").longValue).foreach { case (qid, rs) =>
      checkRanking(ctx, s"searchBatch[$qid]", rs.sortBy(_.getAs[Number]("rank").intValue))
    })
  }

  /** Every appended or edited doc must come back from a search for its
    * own first chunk. */
  def verify(ctx: Ctx): Unit = for (id <- written if !deleted(id)) {
    val q = texts(id).split(" ").take(20).mkString(" ")
    val got = VectorStore.search(ctx.spark, index, q, K).collect()
      .map(_.getAs[Long]("doc_id"))
    ctx.check(got.contains(id), s"doc $id missing from its first chunk's top-$K")
  }

  private def write(ctx: Ctx, kind: String, timed: Boolean): Unit = {
    import ctx.spark.implicits._
    val live = texts.keys.filterNot(deleted).toIndexedSeq
    def run[T](body: => T): Option[T] =
      if (timed) ctx.op[T]("write", "VectorStore")(body)
      else Some(ctx.labelled("VectorStore")(body))
    kind match {
      case "append" =>
        val id = nextId; nextId += 1
        val text = Workloads.perturb(ctx.rng, texts(live(ctx.rng.nextInt(live.size))),
          s"u${ctx.seed}x$id")
        run(ctx.store("ingest")(VectorStore.ingest(
          Seq((id, text)).toDF("doc_id", "text"), index, mode = "append"))).foreach { _ =>
          texts(id) = text
          written += id
        }
      case "delete" =>
        val id = live(ctx.rng.nextInt(live.size))
        run(ctx.store("delete")(VectorStore.delete(ctx.spark, index, Seq(id))))
          .foreach(_ => deleted += id)
      case "edit" =>
        val id = live(ctx.rng.nextInt(live.size))
        val text = Workloads.perturb(ctx.rng, texts(id), s"e${ctx.seed}x$id")
        run(ctx.store("edit")(VectorStore.edit(ctx.spark, index, Seq(id),
          Seq((id, text)).toDF("doc_id", "text")))).foreach { _ =>
          texts(id) = text
          written += id
        }
    }
  }

  /** One cycle of ten requests: two single reads on each path, one
    * 40-query batch and one write, appends and edits in turn. The mix is
    * fixed so that every seed puts the same work in a window; the seed
    * picks the queries and the documents. */
  private def cycle(ctx: Ctx): Unit = {
    for (_ <- 1 to 2 * Reads.size) singleRead(ctx, timed = true)
    batchRead(ctx, timed = true)
    write(ctx, Writes(writes % Writes.size), timed = true)
    writes += 1
  }

  /** One read of each path and one batch compile their plans; one delete
    * gives every later read a deleted id that must never come back. */
  def warm(ctx: Ctx): Unit = {
    for (_ <- Reads.indices) singleRead(ctx, timed = false)
    batchRead(ctx, timed = false)
    write(ctx, "delete", timed = false)
  }

  /** Whole cycles until the window ends (the last one completes). */
  def measure(ctx: Ctx): Unit = while (ctx.timeLeft) cycle(ctx)

  /** op_ms weighs the four read paths equally: the mean of each
    * path's median. Their latencies differ by up to 2x, so a median over
    * the pooled reads would sit on a cluster edge and jump between runs.
    * work_per_s is successful requests of every kind (single reads,
    * batches, writes) per second of window. */
  def headline(ctx: Ctx): Headline = {
    val w = ctx.windowS
    val reads = ctx.ops.filter(_.kind.startsWith("read.")).toSeq
    val perPath = Reads.map(p => p -> Stats.pct(ctx.opsOf(s"read.$p"), 0.5, w))
    perPath.foreach { case (p, v) => ctx.detail(s"read_p50_ms.$p") = 1e3 * v }
    ctx.detail("search_p50_ms") = 1e3 * Stats.pct(reads, 0.5, w)
    Stats.tailPct(reads.size).foreach { p =>
      ctx.detail("search_tail_ms") = 1e3 * Stats.pct(reads, p / 100.0, w)
      ctx.detail("search_tail_pct") = p
    }
    val batches = ctx.opsOf("batch_read")
    if (batches.nonEmpty)
      ctx.detail("batch_search_qps") = 40.0 / Stats.median(batches.map(_.seconds))
    ctx.detail("write_p50_s") = Stats.pct(ctx.opsOf("write"), 0.5, w)
    Headline(reads, 1e3 * perPath.map(_._2).sum / perPath.size, ctx.okOps / w)
  }
}

/** A fixed set of registry keys, then one CorpusJob.run, over the fixed
  * corpus. A key builds `fn(spark, dir)` (eager jobs fire here), then
  * materializes every column through the noop sink; CorpusJob.run
  * curates the corpus into shards. Each result is checked against its
  * golden. The whole registry takes about 200 s in a
  * fresh JVM and its per-key cost is heavy-tailed (ann_recall alone
  * ~16 s), so a run sweeps a fixed sample instead: keys from every
  * registry object. `text_ppl_bucket` and `dedup_contamination` are not
  * in it because CorpusJob.run runs them as stages. The order is fixed
  * too: the JVM keeps warming through the window, so a key's wall
  * depends on its place, and with a seed-shuffled order the median key
  * swung by up to a quarter between seeds. The seed plays no part. */
final class OperatorSweep extends Workload {
  private val Keys = Seq(
    "q3_revenue", "q_window", "q_sessionize", "q_asof_join", "q_skew_join",
    "q_hll_users", "q_cms_topk", "kb_pipeline", "kb_incremental",
    "text_tokens", "dedup_minhash", "ann_lsh", "vec_quantize", "mm_dedup",
    "mm_scene_cut")
  private val WarmKeys = Seq("kb_chunks", "q_anti_join", "text_repetition")
  /** The CorpusJob.run item's name in the order and in goldens.json. */
  private val CorpusRun = "CorpusJob.run"
  private var items: Seq[String] = Nil
  private val buildS = mutable.ArrayBuffer.empty[Double]
  private val execS = mutable.ArrayBuffer.empty[Double]

  def setup(ctx: Ctx): Unit = {
    val missing = Keys.filterNot(SparkEntry.queries.contains)
    ctx.check(missing.isEmpty, s"sweep keys missing from SparkEntry.queries: $missing")
    items = Keys.filter(SparkEntry.queries.contains) :+ CorpusRun
  }

  /** Keys outside the set warm the JVM and Spark's shared code paths, so
    * the set measures each plan's first run, not the JVM's. */
  def warm(ctx: Ctx): Unit = for (k <- WarmKeys if SparkEntry.queries.contains(k)) {
    ctx.spark.catalog.clearCache()
    ctx.labelled(Workloads.moduleOfKey.getOrElse(k, "other")) {
      SparkEntry.queries(k)(ctx.spark, ctx.fixedDir).write.mode("overwrite").format("noop").save()
    }
  }

  private def runKey(ctx: Ctx, key: String): Option[DataFrame] = {
    val fn = SparkEntry.queries(key)
    val sc = ctx.spark.sparkContext
    ctx.spark.catalog.clearCache()
    ctx.op[DataFrame]("sweep_key", Workloads.moduleOfKey.getOrElse(key, "other")) {
      val (df, b) = ctx.tracer.span(s"operators.build.$key") {
        sc.setLocalProperty(SparkTrace.OpProp, "build")
        fn(ctx.spark, ctx.fixedDir)
      }
      val (_, e) = ctx.tracer.span(s"operators.exec.$key") {
        sc.setLocalProperty(SparkTrace.OpProp, "exec")
        df.write.mode("overwrite").format("noop").save()
      }
      buildS += b
      execS += e
      ctx.detail(s"key_s.$key") = b + e
      df
    }
  }

  /** The whole job: curated shards and sidecars written, audit returned. */
  private def runCorpusJob(ctx: Ctx): Option[DataFrame] = {
    ctx.spark.catalog.clearCache()
    ctx.op[DataFrame]("corpus_job", "CorpusJob") {
      val audit = CorpusJob.run(ctx.spark, ctx.fixedDir, s"${ctx.workDir}/corpus")
      audit.collect().foreach(r => ctx.detail(s"corpus_audit.${r.getString(0)}") = r.getLong(1))
      audit
    }
  }

  private var done: List[(String, Option[DataFrame])] = Nil

  /** The set is the unit of work: it always runs whole (~22 s on 4 cores,
    * against a 20 s window), so a slow host stretches the run instead of
    * changing what it measures. Only a run past three windows stops
    * early. */
  def measure(ctx: Ctx): Unit =
    done = items.iterator.takeWhile(_ => ctx.windowS < 3 * ctx.seconds)
      .map(k => k -> (if (k == CorpusRun) runCorpusJob(ctx) else runKey(ctx, k))).toList

  /** Checks each result (CorpusJob.run: its stage audit) against its
    * golden, then lets the plans go. A failed item has no result; the
    * gate counts it as a failed op. */
  def verify(ctx: Ctx): Unit = {
    for ((key, Some(df)) <- done) {
      val got = Goldens.summarize(df)
      Goldens.sweep.get(key) match {
        case Some(g) => ctx.check(Goldens.matches(g, got),
          s"$key: result ${Goldens.show(got)} differs from golden ${Goldens.show(g)}")
        case None => ctx.check(false, s"$key: no golden recorded")
      }
    }
    done = Nil
  }

  /** op_ms is the mean registry key wall. The median key swung with the
    * host about twice as much as the mean (0.17 against 0.09 between two
    * ten-seed sets), since the keys near the middle are the ones the
    * warming JVM moves most. work_per_s counts every successful item,
    * CorpusJob.run too, per second of window. */
  def headline(ctx: Ctx): Headline = {
    val ks = ctx.opsOf("sweep_key")
    ctx.detail("sweep_total_s") = ks.map(_.seconds).sum
    ctx.detail("sweep_keys") = ks.size
    ctx.detail("sweep_key_p50_s") = Stats.pct(ks, 0.5, ctx.windowS)
    ctx.detail("operators.build_s") = buildS.sum
    ctx.detail("operators.exec_s") = execS.sum
    ctx.opsOf("corpus_job").foreach(o => ctx.detail("corpus_job_s") = o.seconds)
    Headline(ks, 1e3 * Stats.mean(ks, ctx.windowS), ctx.okOps / ctx.windowS)
  }
}
