package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload. A failed op keeps its wall but is
  * ranked above every successful one, so it misses every latency figure;
  * it also fails the run's correctness gate. */
final case class OpRec(kind: String, seconds: Double, ok: Boolean)

/** Everything a workload run shares: the session, the seed and the
  * measurement window, the op log, the correctness log and the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val dataDir: String, val fixedDir: String,
    val workDir: String, val cores: Int, val tracer: Tracer,
    val sparkTrace: Option[SparkTrace]) {
  val rng = new scala.util.Random(seed)
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  var checks = 0L
  /** Named figures beyond the headline metrics, kept in the run record. */
  val detail = mutable.LinkedHashMap.empty[String, Double]
  /** Wall of each public VectorStore call (traced runs report medians). */
  val storeCalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var scanRows = 0.0
  var resultRows = 0.0
  private var heapPeak = 0.0
  private var measureStart = 0L
  private var deadline = 0L

  def traced: Boolean = tracer.enabled

  def startWindow(): Unit = {
    measureStart = System.nanoTime()
    deadline = measureStart + (seconds * 1e9).toLong
  }
  def timeLeft: Boolean = System.nanoTime() < deadline
  def windowS: Double = (System.nanoTime() - measureStart) / 1e9

  /** Label the Spark jobs `body` starts with the graft module the harness
    * is calling, for stages whose call site holds no graft frame. */
  def labelled[T](module: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkTrace.ModuleProp, module)
    try body finally sc.setLocalProperty(SparkTrace.ModuleProp, null)
  }

  /** Run one operation: labels its Spark jobs with `module` and `kind`,
    * times it as a span, and logs a failure (never swallowing it). */
  def op[T](kind: String, module: String)(body: => T): Option[T] = labelled(module) {
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkTrace.OpProp, kind)
    val t0 = System.nanoTime()
    try {
      val (r, s) = tracer.span(s"op.$kind")(body)
      ops += OpRec(kind, s, ok = true)
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += OpRec(kind, (System.nanoTime() - t0) / 1e9, ok = false)
        failures += s"$kind: ${e.getClass.getSimpleName}: ${Option(e.getMessage)
          .getOrElse("").linesIterator.take(1).mkString}"
        None
    } finally sc.setLocalProperty(SparkTrace.OpProp, null)
  }

  /** Time one public VectorStore call inside an op. */
  def store[T](call: String)(body: => T): T = {
    val (r, s) = tracer.span(s"VectorStore.$call")(body)
    storeCalls.getOrElseUpdate(call, mutable.ArrayBuffer.empty) += s
    r
  }

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) checkFailures += what
  }

  /** Collect a read's rows; in a traced run also count the rows its scans
    * produced against the rows returned. */
  def collectRead(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    if (traced) {
      scanRows += SparkTrace.scanRows(df)
      resultRows += rows.length
    }
    rows
  }

  /** Peak old-gen bytes in use right after full collections, sampled at
    * the end of set-up and, after the window's checks and with cached
    * tables dropped (which tables an operator left cached depends on the
    * seed's key order), at the end of the run. */
  def heapCheckpoint(dropCaches: Boolean): Unit = {
    if (dropCaches) spark.catalog.clearCache()
    heapPeak = math.max(heapPeak, Jvm.checkpointMb())
  }
  def heapPeakMb: Double = heapPeak

  def okOps: Int = ops.count(_.ok)

  /** Every op of `kind`, failed ones included (they rank last). */
  def opsOf(kind: String): Seq[OpRec] = ops.filter(o => o.kind == kind).toSeq
}

object Stats {
  /** Nearest-rank percentile of walls; failed ops rank above all others
    * and read as the whole window, so they miss any latency figure. */
  def pct(recs: Seq[OpRec], p: Double, windowS: Double): Double = {
    val xs = recs.map(r => if (r.ok) r.seconds else math.max(windowS, r.seconds)).sorted
    if (xs.isEmpty) Double.NaN
    else xs(math.min(xs.size - 1, math.max(0, math.ceil(p * xs.size).toInt - 1)))
  }

  /** Mean wall; a failed op reads as the whole window, as in `pct`. */
  def mean(recs: Seq[OpRec], windowS: Double): Double =
    if (recs.isEmpty) Double.NaN
    else recs.map(r => if (r.ok) r.seconds else math.max(windowS, r.seconds)).sum / recs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile (in whole percent) with at least ten samples
    * beyond it, or None below 11 samples. */
  def tailPct(n: Int): Option[Int] =
    if (n < 11) None else Some(math.floor(100.0 * (n - 10) / n).toInt).filter(_ > 0)
}
