package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed interval: a benchmark call into the engine, a streaming batch,
  * or a Spark job. Times are epoch milliseconds. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, batch: Long) {
  def ms: Double = end - start
}

/** One Spark job, attributed by the description the engine (`graft b<N>:
  * keyed stats scan` / `merge write` / `fold/split`) or the benchmark
  * (`perfbench: <span name>`) set on the submitting thread. */
final class JobRec(val id: Int, val desc: String, val start: Long) {
  @volatile var end: Long = -1L
  val busyMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong

  def label: String =
    if (desc.endsWith(": keyed stats scan")) "stats_scan"
    else if (desc.endsWith(": merge write")) "probe_write"
    else if (desc.endsWith(": fold/split")) "fold"
    else if (desc.startsWith("perfbench: ")) desc.stripPrefix("perfbench: ")
    else "other"

  /** The engine's batch id, from `graft b<N>:` or a streaming `batch = N`. */
  def batch: Long = Tracer.BatchRe.findFirstMatchIn(desc)
    .orElse(Tracer.StreamBatchRe.findFirstMatchIn(desc))
    .map(_.group(1).toLong).getOrElse(-1L)
}

/** One streaming trigger with input, from its query progress. */
final case class TriggerRec(batch: Long, rows: Long, startMs: Double, ms: Double)

/** Per-trigger progress of streaming queries, from a StreamingQueryListener:
  * the tail's trigger latencies in every run, and its `stream.batch` spans
  * in a traced run. */
final class ProgressLog(spark: SparkSession) {
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[TriggerRec]()
  private val listener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) triggers.add(TriggerRec(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)))
    }
  }
  spark.streams.addListener(listener)
  def close(): Unit = spark.streams.removeListener(listener)
}

/** Traced-run plumbing: spans kept in memory and written out at the end and
  * a SparkListener for jobs and task time; streaming triggers come from
  * [[ProgressLog]]. Everything here reads public Spark surfaces and the
  * engine's job descriptions; the engine itself is untouched. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** nanoseconds spent inside the listener callbacks and span bookkeeping */
  private val overheadNs = new AtomicLong
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def metered(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = metered {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val rec = new JobRec(e.jobId, desc, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = metered {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = metered {
      val rec = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) {
        rec.busyMs.addAndGet(m.executorRunTime)
        rec.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        rec.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }
  spark.sparkContext.addSparkListener(jobListener)

  /** A streaming trigger's span, from [[ProgressLog]]'s record of it. */
  def trigger(t: TriggerRec): Unit =
    metered(record("stream.batch", t.startMs, t.startMs + t.ms, -1L, t.batch))

  private def record(name: String, start: Double, end: Double, parent: Long,
      batch: Long): Long = {
    val id = ids.incrementAndGet()
    spans.synchronized { spans += Span(id, name, start, end, parent, batch) }
    id
  }

  /** Time `body` as span `name`; Spark jobs it submits without an engine
    * label carry `perfbench: <name>` as their description. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val parent = stack.get().headOption.getOrElse(-1L)
    val id = ids.incrementAndGet()
    stack.set(id :: stack.get())
    sc.setJobDescription(s"perfbench: $name")
    val start = nowMs
    try body
    finally {
      val end = nowMs
      metered {
        spans.synchronized { spans += Span(id, name, start, end, parent, -1L) }
        stack.set(stack.get().tail)
        sc.setJobDescription(prevDesc)
      }
    }
  }

  private var finishedMs = Double.NaN

  /** Share of the traced interval spent in span and listener bookkeeping. */
  def overheadFrac: Double = overheadS / ((finishedMs - epoch0) / 1000)

  /** Let the listener bus deliver the tail of the event stream; idempotent. */
  def finish(): Unit = if (finishedMs.isNaN) {
    finishedMs = nowMs
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
        jobs.values.asScala.exists(_.end < 0)) Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.filter(_.end >= 0).sortBy(_.start)
  def jobsLabelled(label: String): Seq[JobRec] = allJobs.filter(_.label == label)
  def spansNamed(name: String): Seq[Span] =
    spans.synchronized(spans.toList).filter(_.name == name).sortBy(_.start)
  def overheadS: Double = overheadNs.get / 1e9

  /** Spans for every finished job, parented to the batch span carrying its
    * engine batch id, else to the innermost benchmark span containing it. */
  private def jobSpans(all: Seq[Span]): Seq[Span] = allJobs.map { j =>
    val within = all.filter(s => s.start <= j.start && j.start <= s.end)
    val parent = within.find(s => s.name == "stream.batch" && s.batch == j.batch)
      .orElse(within.sortBy(-_.start).headOption).map(_.id).getOrElse(-1L)
    Span(-j.id.toLong - 1, s"job:${j.label}", j.start.toDouble, j.end.toDouble,
      parent, j.batch)
  }

  /** Write every span as one JSON line with its self time: its duration
    * minus the part of it that its child spans cover. */
  def writeSpans(path: String): Unit = {
    val raw = spans.synchronized(spans.toList)
    // trigger spans come from the listener thread: parent them by time
    val own = raw.map { s =>
      if (s.parent >= 0) s
      else raw.filter(o => o.id != s.id && o.start <= s.start && s.start <= o.end)
        .sortBy(-_.start).headOption.fold(s)(o => s.copy(parent = o.id))
    }
    val all = own ++ jobSpans(own)
    val children = all.groupBy(_.parent)
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)))
      val self = s.ms - Tracer.unionMs(kids)
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${Json.num(s.start)},""" +
        s""""end_ms":${Json.num(s.end)},"parent":${s.parent},"batch":${s.batch},""" +
        s""""self_ms":${Json.num(self)}}""")
    } finally w.close()
  }
}

object Tracer {
  val BatchRe = """graft b(\d+):""".r
  val StreamBatchRe = """batch = (\d+)""".r

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of the overlap of two interval sets (each first unioned). */
  def overlapMs(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double =
    unionMs(a) + unionMs(b) - unionMs(a ++ b)

  def iv(js: Seq[JobRec]): Seq[(Double, Double)] =
    js.map(j => (j.start.toDouble, j.end.toDouble))

  /** Every per-layer metric with its unit: a traced run reports all of them,
    * 0 for layers its workload does not exercise. */
  private val writePath: Seq[(String, String)] = Seq(
    "stream.stats_scan_s" -> "s", "stream.stats_scan_busy_s" -> "s",
    "stream.stats_scan_input_mb" -> "MB",
    "stream.batch_p50_s" -> "s", "stream.batch_p90_s" -> "s",
    "stream.batches" -> "count", "stream.files_per_batch" -> "count",
    "stream.driver_gap_s" -> "s", "stream.dedup_ratio" -> "ratio",
    "merge.probe_write_s" -> "s", "merge.probe_write_busy_s" -> "s",
    "merge.write_shuffle_mb" -> "MB", "merge.files_written" -> "count",
    "merge.fold_s" -> "s", "merge.fold_busy_s" -> "s",
    "merge.fold_overlap_frac" -> "ratio", "merge.fold_batches" -> "count",
    "merge.write_amp" -> "ratio", "table.commits" -> "count")

  val layerNames: Seq[(String, String)] =
    Seq("replay", "tail").flatMap(p => writePath.map { case (n, u) => s"$p.$n" -> u }) ++
    Seq("tail.stream.backlog_files_max" -> "count",
    "tail.table.latest_ms" -> "ms", "tail.table.snapshot_at_ms" -> "ms",
    "serve.table.read_s" -> "s", "serve.table.read_busy_s" -> "s",
    "serve.table.dirty_bucket_frac" -> "ratio", "serve.table.bytes_per_live_row" -> "B",
    "serve.table.get_files_planned" -> "count", "serve.table.get_jobs" -> "count",
    "serve.table.changes_files_scanned" -> "count",
    "serve.table.changes_rows_out" -> "count", "serve.stream.sync_s" -> "s",
    "feed.decode_scan_s" -> "s") ++
    Queries.headline.map(q => s"ops.${q}_s" -> "s") ++ Seq(
    "control.scan_groupby_s" -> "s", "control.parquet_write_s" -> "s",
    "control.replay_fixed_share" -> "ratio",
    "control.replay_p1_events_per_s" -> "1/s", "control.scaling_eff_p1_p4" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "bench.gen_s" -> "s", "bench.generator_late_max_s" -> "s",
    "bench.trace_overhead_frac" -> "ratio")
}
