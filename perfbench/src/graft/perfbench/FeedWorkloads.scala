package graft.perfbench

import graft.feed.{BinlogFeedGen, FeedReader, ReplayOracle}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{BatchMetrics, CdcIngestJob, ChangelogChain, IngestConfig}
import graft.table.GraftLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

/** Input sizes. `tiny` is for the self-tests only: every code path runs,
  * in seconds. */
final case class Sizes(
    tailEventsPerFile: Int,
    tailPrefixFiles: Int,
    tailWarmFiles: Int,
    tailBurstFiles: Int,
    tailFilesPerS: Double,
    queriesScale: Double)

object Sizes {
  def apply(tiny: Boolean): Sizes =
    if (tiny) Sizes(tailEventsPerFile = 500, tailPrefixFiles = 4, tailWarmFiles = 4,
      tailBurstFiles = 8, tailFilesPerS = 1.0, queriesScale = 0.002)
    else Sizes(tailEventsPerFile = 4000, tailPrefixFiles = 2, tailWarmFiles = 4,
      tailBurstFiles = 8, tailFilesPerS = 0.5, queriesScale = 0.01)
}

/** The `ingest` workload: tail, serve and replay over one generated binlog
  * feed. */
object FeedWorkloads {
  val Buckets = 64
  /** content sha256 and evolved `size` per live key */
  type State = Map[(String, String), (String, Option[Long])]

  // ---- shared plumbing ---------------------------------------------------

  /** The bench feed shape: ~10 events per key, skew 0.2, 5% no-ops, 2%
    * decoy rows (BinlogFeedGen's defaults for the last two). */
  def feedConfig(ctx: Ctx, nEvents: Int, eventsPerFile: Int): FeedConfig =
    FeedConfig(nEvents = nEvents, nKeys = nEvents / 10, seed = ctx.args.seed,
      eventsPerFile = eventsPerFile, skew = 0.2)

  def ingest(feed: String, lake: String): IngestConfig =
    IngestConfig(feed, lake, s"$lake-cp", nBuckets = Buckets)

  def genFeed(ctx: Ctx, cfg: FeedConfig, dir: String): Unit = {
    val (_, s) = Stats.timed(BinlogFeedGen.writeFeed(ctx.spark, cfg, dir))
    ctx.rep.named("gen_s", s, "s", s"${cfg.nEvents} events, excluded from setup_s")
    ctx.rep.layer("bench.gen_s", s, "s")
  }

  /** A feed's binlog-file partitions in delivery order: each file, then its
    * re-delivered tail (`-replay`), as (fileIdx, partition dir). */
  def partitions(feed: String): Seq[(Long, File)] =
    new File(feed).listFiles().toSeq.filter(_.getName.startsWith("_file=f"))
      .map { d =>
        val n = d.getName.stripPrefix("_file=f")
        (n.takeWhile(_.isDigit).toLong, d)
      }.sortBy { case (i, d) => (i, d.getName.endsWith("-replay")) }

  /** Deliver one partition into a live feed dir: hardlinks keep the
    * generator's binlog-order modification times. */
  def link(part: File, feed: String): Unit = {
    val dst = new File(feed, part.getName)
    dst.mkdirs()
    part.listFiles().filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")).foreach { f =>
      Files.createLink(new File(dst, f.getName).toPath, f.toPath)
    }
  }

  def linkAll(parts: Seq[(Long, File)], feed: String): String = {
    new File(feed).mkdirs()
    parts.foreach { case (_, d) => link(d, feed) }
    feed
  }

  def oracleState(cfg: FeedConfig, withSize: Boolean): State =
    ReplayOracle.finalStateFor(cfg).map { r =>
      (r.repo, r.path) -> (ReplayOracle.sha256Hex(r.content),
        if (withSize) r.size else None)
    }.toMap

  def stateOf(df: DataFrame, withSize: Boolean): State = {
    val cols = Seq(col("repo"), col("path"), sha2(col("content"), 256)) ++
      (if (withSize) Seq(col("size").cast("long")) else Nil)
    df.select(cols: _*).collect().map { r =>
      (r.getString(0), r.getString(1)) ->
        (r.getString(2), if (withSize && !r.isNullAt(3)) Some(r.getLong(3)) else None)
    }.toMap
  }

  def lakeState(spark: SparkSession, root: String, withSize: Boolean): State = {
    val lake = new GraftLake(root, Buckets)
    stateOf(lake.read(spark, lake.latest().get), withSize)
  }

  def diff(got: State, want: State): Option[String] =
    if (got.size != want.size) Some(s"${got.size} live rows, oracle has ${want.size}")
    else want.collectFirst { case (k, v) if !got.get(k).contains(v) =>
      s"row ${k._1}/${k._2}: lake ${got.get(k)}, oracle $v" }

  /** Row-by-row gate of a lake against the oracle; one attempted op. */
  def verifyLake(ctx: Ctx, name: String, root: String, want: State,
      withSize: Boolean): Boolean = {
    ctx.rep.attempted += 1
    val d = try diff(lakeState(ctx.spark, root, withSize), want)
      catch { case NonFatal(e) => Some(s"read failed: $e") }
    val ok = ctx.rep.check(name, d.isEmpty, d.getOrElse(""))
    if (!ok) ctx.rep.failed += 1
    ok
  }

  /** A copy of `root` in which one live key's content is altered, in every
    * file holding a copy of it: the negative test of the gate. Manifests
    * name files by absolute path, so the copy's metadata is re-pointed at
    * the copied data files. */
  def corruptCopy(spark: SparkSession, root: String): String = {
    val src = Paths.get(root).toAbsolutePath
    val dst = Paths.get(s"$root-corrupt").toAbsolutePath
    Files.walk(src).iterator().asScala.toList.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (p.toString.contains("/data/")) Files.copy(p, q)
      else Files.writeString(q, Files.readString(p).replace(src.toString, dst.toString))
    }
    // a live key and every file holding a copy of it, found in the original
    // so that no file of the copy is read (and its status cached) before it
    // is rewritten
    val files = new GraftLake(src.toString, Buckets).latest().get.files.map(_.path)
    val key = spark.read.parquet(files: _*)
      .groupBy("repo", "path").agg(max_by(col("_deleted"), col("_offset")).as("d"))
      .filter(!col("d")).select("repo", "path").head()
    val isKey = (r: org.apache.spark.sql.Row) =>
      r.getAs[String]("repo") == key.getString(0) && r.getAs[String]("path") == key.getString(1)
    spark.read.parquet(files: _*)
      .filter(col("repo") === key.getString(0) && col("path") === key.getString(1))
      .select(input_file_name()).distinct().collect().zipWithIndex.foreach { case (f, n) =>
        val file = new java.net.URI(f.getString(0)).getPath.replace(src.toString, dst.toString)
        val df = spark.read.parquet(file)
        val ci = df.schema.fieldIndex("content")
        val rows = df.collect().map(r => if (!isKey(r)) r else
          org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(ci, r.getString(ci) + " altered")))
        val tmp = s"$dst-rewrite$n"
        spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
          .write.parquet(tmp)
        val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
      }
    dst.toString
  }

  /** Snapshots committed after `afterId`, in stored form. */
  def newSnapshots(root: String, afterId: Long): Seq[GraftLake.Snapshot] =
    new GraftLake(root, Buckets).snapshotLog().filter(_.id > afterId)

  /** Per-layer counters read from snapshot metrics (the engine's public,
    * durable per-commit record), under `p` (the phase). */
  def snapshotLayer(rep: Report, p: String, snaps: Seq[GraftLake.Snapshot]): Unit = {
    def sum(k: String) = snaps.map(_.metrics.getOrElse(k, 0L)).sum.toDouble
    val applied = sum("applied")
    rep.layer(s"$p.stream.dedup_ratio",
      if (sum("watchedRows") > 0) applied / sum("watchedRows") else 0.0, "ratio")
    rep.layer(s"$p.merge.write_amp", if (applied > 0)
      (sum("rowsWritten") + sum("compactedRows") + sum("splitRows")) / applied
      else 0.0, "ratio")
    rep.layer(s"$p.merge.files_written",
      if (snaps.isEmpty) 0.0 else snaps.map(_.added.size).sum.toDouble / snaps.size,
      "count")
    rep.layer(s"$p.table.commits", snaps.size.toDouble, "count")
  }

  /** Job-derived per-layer metrics of the write path within `phase`;
    * `batches` are the engine batch spans (replay calls or triggers). */
  def writePathLayer(ctx: Ctx, p: String, phase: Span, batches: Seq[Span]): Unit =
    ctx.tracer.foreach { t =>
      val rep = ctx.rep
      val inPhase = t.allJobs.filter(j => j.start >= phase.start && j.start <= phase.end)
      def jobLayer(label: String, name: String): Seq[JobRec] = {
        val js = inPhase.filter(_.label == label)
        rep.layer(s"$p.${name}_s", Tracer.unionMs(Tracer.iv(js)) / 1000, "s")
        rep.layer(s"$p.${name}_busy_s", js.map(_.busyMs.get).sum / 1000.0, "s")
        js
      }
      val scan = jobLayer("stats_scan", "stream.stats_scan")
      rep.layer(s"$p.stream.stats_scan_input_mb",
        scan.map(_.inputBytes.get).sum / 1048576.0, "MB")
      val write = jobLayer("probe_write", "merge.probe_write")
      rep.layer(s"$p.merge.write_shuffle_mb",
        write.map(_.shuffleWriteBytes.get).sum / 1048576.0, "MB")
      val fold = jobLayer("fold", "merge.fold")
      val foldIv = Tracer.iv(fold)
      val foldMs = Tracer.unionMs(foldIv)
      rep.layer(s"$p.merge.fold_overlap_frac", if (foldMs > 0)
        Tracer.overlapMs(foldIv, Tracer.iv(scan ++ write)) / foldMs else 0.0, "ratio")
      rep.layer(s"$p.merge.fold_batches", fold.map(_.batch).distinct.size.toDouble, "count")
      val secs = batches.map(_.ms / 1000)
      rep.layer(s"$p.stream.batches", batches.size.toDouble, "count")
      rep.layer(s"$p.stream.batch_p50_s", Stats.median(secs), "s")
      rep.layer(s"$p.stream.batch_p90_s", Stats.quantile(secs, 0.9), "s")
      // batch time no Spark job covers: planning, listing, manifest commit
      val gaps = batches.map { b =>
        val covered = inPhase.filter(j => j.end > b.start && j.start < b.end)
          .map(j => (math.max(j.start.toDouble, b.start), math.min(j.end.toDouble, b.end)))
        (b.ms - Tracer.unionMs(covered)) / 1000
      }
      rep.layer(s"$p.stream.driver_gap_s", Stats.median(gaps), "s")
    }

  /** The `ingest` workload: the tail, serve (traced runs only) and replay
    * scenarios in turn, in one JVM, over one generated feed. */
  def ingest(ctx: Ctx): Unit = {
    val t = tail(ctx)
    ctx.tracer.foreach(_ => serve(ctx, t.cfg, new GraftLake(t.lake, Buckets), t.want))
    // the tail's set-up replays warmed the JVM for the replay loop
    val r = replay(ctx, t)
    ctx.tracer.foreach(_ => replayControls(ctx, r))
  }

  // ---- replay ------------------------------------------------------------

  /** Fewest replay calls a run makes, so that the median is never one call */
  val ReplayCalls = 2

  final case class ReplayRun(cfg: FeedConfig, feed: String, lake: String,
      callS: Double, callCpuS: Double)

  /** Closed loop of `CdcIngestJob.replayBatch` of the whole tail feed into
    * a fresh 64-bucket lake, for `--seconds` and at least [[ReplayCalls]]
    * calls. */
  def replay(ctx: Ctx, t: TailRun): ReplayRun = {
    val spark = ctx.spark
    val (cfg, feed, want) = (t.cfg, t.feed, t.want)
    val lakes = mutable.ArrayBuffer.empty[String]
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    var last: BatchMetrics = null
    ctx.phase("replay") {
      val t0 = System.nanoTime()
      while (Stats.secondsSince(t0) < ctx.args.seconds || lat.size < ReplayCalls) {
        val lake = ctx.dir(s"replay-lake${lakes.size}")
        lakes += lake
        val (m, s, c) = Stats.timedCpu(ctx.span("stream.replay") {
          CdcIngestJob.replayBatch(spark, ingest(feed, lake))
        })
        lat += s
        cpu += c
        last = m
      }
    }
    ctx.rep.retained()
    val callS = Stats.median(lat.toSeq)
    val evPerS = cfg.nEvents / callS
    ctx.rep.mark("replay loop")
    ctx.rep.e2e("throughput_per_cpu_s", cfg.nEvents / Stats.median(cpu.toSeq), "1/s")
    ctx.rep.named("replay_events_per_s", evPerS, "events/s",
      s"${lat.size} replays of ${cfg.nEvents} events")
    ctx.rep.timing("replay_call_s", lat.toSeq, "s")
    ctx.rep.timing("replay_call_cpu_s", cpu.toSeq, "s")
    ctx.rep.named("replay_phase_ms", last.mergeLatencyMs.toDouble, "ms",
      s"last call: stats ${last.statsMs}, write ${last.writeMs}, " +
        s"commit ${last.commitMs}, compact ${last.compactMs}")

    lakes.zipWithIndex.foreach { case (l, i) =>
      verifyLake(ctx, s"replay $i vs oracle (with evolved size)", l, want, withSize = true) }
    if (ctx.args.corrupt)
      verifyLake(ctx, "altered lake copy vs oracle",
        corruptCopy(spark, lakes.head), want, withSize = true)

    ctx.tracer.foreach { t =>
      writePathLayer(ctx, "replay", t.spansNamed("phase.replay").head,
        t.spansNamed("stream.replay"))
      snapshotLayer(ctx.rep, "replay", lakes.toSeq.flatMap(newSnapshots(_, -1L)))
      ctx.rep.layer("replay.stream.files_per_batch",
        partitions(feed).size.toDouble, "count")
    }
    ctx.rep.mark("replay checks")
    ReplayRun(cfg, feed, lakes.last, callS, Stats.median(cpu.toSeq))
  }

  /** Same-shape vanilla-Spark references for the scan and for probe plus
    * write, the decode scan alone, the per-call fixed cost of a replay, and
    * a local[1] replay (last: it replaces the session). */
  private def replayControls(ctx: Ctx, r: ReplayRun): Unit = {
    val spark = ctx.spark
    def timedSpan(name: String)(body: => Unit): Double =
      Stats.timed(ctx.span(name)(body))._2
    ctx.rep.layer("feed.decode_scan_s", timedSpan("feed.decode_scan") {
      FeedReader.decode(FeedReader.readBatch(spark, r.feed), Set("commit"))
        .write.format("noop").mode("overwrite").save()
    }, "s")
    ctx.rep.layer("control.scan_groupby_s", timedSpan("control.scan_groupby") {
      spark.read.parquet(r.feed)
        .groupBy(coalesce(col("after.repo"), col("before.repo")),
          coalesce(col("after.path"), col("before.path")))
        .agg(max(col("offset")))
        .write.format("noop").mode("overwrite").save()
    }, "s")
    // a replay of the feed's first binlog file alone (1 of its files, with
    // its re-delivery): an upper bound on the part of a full-feed call
    // that does not grow with the feed
    val oneFile = linkAll(partitions(r.feed).filter(_._1 == 1L), ctx.dir("replay-one-file"))
    val (_, oneS, oneCpuS) = Stats.timedCpu(ctx.span("stream.replay_one_file") {
      CdcIngestJob.replayBatch(spark, ingest(oneFile, ctx.dir("replay-one-file-lake")))
    })
    ctx.rep.named("replay_one_file_s", oneS, "s",
      f"full feed: ${r.callS}%.3f s; CPU ${oneCpuS}%.3f s, full feed ${r.callCpuS}%.3f s")
    // as CPU time, like the throughput it qualifies
    ctx.rep.layer("control.replay_fixed_share", oneCpuS / r.callCpuS, "ratio")
    val lake = new GraftLake(r.lake, Buckets)
    val winners = lake.read(spark, lake.latest().get).localCheckpoint()
    val out = ctx.dir("control-write")
    ctx.rep.layer("control.parquet_write_s", timedSpan("control.parquet_write") {
      winners.write.mode("overwrite").parquet(out)
    }, "s")
    // local[1]: the single-thread baseline of the north rule's N→4N bar
    ctx.tracer.foreach(_.finish())
    spark.stop()
    val p1 = PerfBench.session(1, ctx.args.work)
    val (_, s) = Stats.timed(CdcIngestJob.replayBatch(p1, ingest(r.feed, ctx.dir("replay-p1"))))
    val p1Rate = r.cfg.nEvents / s
    ctx.rep.layer("control.replay_p1_events_per_s", p1Rate, "1/s")
    ctx.rep.layer("control.scaling_eff_p1_p4",
      r.cfg.nEvents / r.callS / (ctx.args.cores * p1Rate), "ratio")
  }

  // ---- tail --------------------------------------------------------------

  /** Commit observations of one lake, polled from a fresh handle, and the
    * process's CPU time at each poll. */
  final class CommitWatch(root: String) extends Thread("perfbench-commit-watch") {
    setDaemon(true)
    /** (first seen at ms, snapshot) per snapshot id */
    val seen = new java.util.concurrent.ConcurrentSkipListMap[Long, (Long, GraftLake.Snapshot)]()
    /** process CPU ms by wall-clock ms */
    private val cpu = new java.util.concurrent.ConcurrentSkipListMap[Long, Double]()
    @volatile var running = true
    private val lake = new GraftLake(root, Buckets)
    override def run(): Unit = while (running) {
      cpu.put(System.currentTimeMillis(), Stats.cpuMs)
      try lake.latest().foreach { s =>
        if (!seen.containsKey(s.id)) seen.put(s.id, (System.currentTimeMillis(), s)) }
      catch { case NonFatal(_) => () }
      Thread.sleep(5)
    }
    /** process CPU seconds used in [fromMs, toMs], from the nearest polls */
    def cpuS(fromMs: Double, toMs: Double): Double = {
      def at(ms: Double) = Option(cpu.floorEntry(ms.toLong)).orElse(Option(cpu.ceilingEntry(ms.toLong)))
        .map(_.getValue).getOrElse(0.0)
      (at(toMs) - at(fromMs)) / 1000
    }
    /** first time a commit covered binlog file `idx` */
    def coveredAt(idx: Long): Option[Long] = seen.values().asScala
      .find(_._2.lastOffset.exists(_.fileIdx >= idx)).map(_._1)
    /** highest binlog file covered by commits seen by `atMs` */
    def covered(atMs: Long): Long = seen.values().asScala
      .filter(_._1 <= atMs).flatMap(_._2.lastOffset.map(_.fileIdx))
      .foldLeft(0L)(math.max)
    def awaitCovered(idx: Long, timeoutMs: Long = 60000): Unit = {
      val end = System.currentTimeMillis() + timeoutMs
      while (coveredAt(idx).isEmpty && System.currentTimeMillis() < end) Thread.sleep(5)
      require(coveredAt(idx).nonEmpty, s"binlog file $idx not committed in ${timeoutMs}ms")
    }
  }

  /** Open loop over one long-running `runStream` (ProcessingTime(0), 4
    * binlog files per trigger) on top of a lake pre-built from the feed's
    * first files: warm-up files, then a paced phase linking one file every
    * 1/rate s, then a burst. The serve scenario's read phase follows. */
  final case class TailRun(cfg: FeedConfig, feed: String, lake: String, want: State)

  def tail(ctx: Ctx): TailRun = {
    val spark = ctx.spark
    val sz = Sizes(ctx.args.tiny)
    val nPaced = math.max(2, math.round(ctx.args.seconds * sz.tailFilesPerS).toInt)
    val lastWarm = sz.tailPrefixFiles + sz.tailWarmFiles
    val lastPaced = lastWarm + nPaced
    val nFiles = lastPaced + sz.tailBurstFiles
    val nEvents = nFiles * sz.tailEventsPerFile
    val cfg = feedConfig(ctx, nEvents, sz.tailEventsPerFile).copy(dupTailFrac = 0.2,
      ddlAt = BinlogFeedGen.evolutionDdls(nEvents))
    val all = ctx.dir("tail-feed")
    genFeed(ctx, cfg, all)
    val want = oracleState(cfg, withSize = true)
    ctx.rep.mark("tail feed + oracle")
    val parts = partitions(all)
    def files(lo: Int, hi: Int) = parts.filter(p => p._1 >= lo && p._1 <= hi)
    val prefixFeed = linkAll(files(1, sz.tailPrefixFiles), ctx.dir("tail-prefix"))
    // set-up: the pre-built lake, built twice (the second one is used)
    var lakeRoot = ""
    val prebuilds = (1 to 2).map { i =>
      lakeRoot = ctx.dir(s"tail-lake$i")
      val (_, s, c) = Stats.timedCpu(CdcIngestJob.replayBatch(spark, ingest(prefixFeed, lakeRoot)))
      (s, c)
    }
    ctx.setup(Stats.median(prebuilds.map(_._1)), Stats.median(prebuilds.map(_._2)))
    val startId = new GraftLake(lakeRoot, Buckets).latest().get.id
    ctx.rep.mark("tail prebuilt lake")

    // compaction is tightened from the 16-file default so that a short run
    // is in steady-state compaction: a bucket folds once it holds 2 delta
    // files, 16 buckets (the default) per commit, so from the third trigger
    // on every trigger folds and four triggers fold every bucket once
    val spec = graft.stream.TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable,
      lakeRoot, Buckets, maxDeltaFiles = 2)
    // each binlog file arrives with its re-delivered tail: 8 feed files
    // are 4 binlog files
    val stream = ingest("", lakeRoot).copy(maxFilesPerTrigger = 8, tables = Seq(spec))
    val live = ctx.dir("tail-live")
    val watch = new CommitWatch(lakeRoot)
    watch.start()
    var late = 0.0
    var due = Seq.empty[(Long, Long)]
    var burstAt = 0L
    var warmAt = 0L
    val progress = new ProgressLog(spark)
    ctx.phase("tail") {
      files(sz.tailPrefixFiles + 1, lastWarm).foreach { case (_, d) => link(d, live) }
      val query = CdcIngestJob.runStream(spark, stream.copy(feedDir = live),
        Trigger.ProcessingTime(0))
      watch.awaitCovered(lastWarm)
      warmAt = System.currentTimeMillis()
      ctx.rep.mark("tail stream warm")
      // paced phase: each file is due at a fixed time, however late the
      // stream runs; its re-delivery arrives with it, as generated
      val t0 = System.currentTimeMillis() + 50
      due = (lastWarm + 1 to lastPaced).map(i =>
        (i.toLong, t0 + ((i - lastWarm - 1) * 1000.0 / sz.tailFilesPerS).toLong))
      due.foreach { case (idx, at) =>
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late = math.max(late, (System.currentTimeMillis() - at) / 1000.0)
        files(idx.toInt, idx.toInt).foreach { case (_, d) => link(d, live) }
      }
      // burst: the rest of the feed at once, one period after the last
      // paced file, on top of whatever backlog the paced phase left
      burstAt = due.last._2 + (1000.0 / sz.tailFilesPerS).toLong
      Thread.sleep(math.max(0L, burstAt - System.currentTimeMillis()))
      ctx.rep.mark("tail paced")
      files(lastPaced + 1, nFiles).foreach { case (_, d) => link(d, live) }
      watch.awaitCovered(nFiles)
      query.processAllAvailable()
      query.stop()
    }
    watch.running = false
    ctx.rep.retained()
    ctx.rep.mark("tail burst")
    watch.join()
    progress.close()

    val fresh = due.flatMap { case (idx, at) =>
      watch.coveredAt(idx).map(c => (c - at) / 1000.0) }
    val backlog = due.map { case (_, at) =>
      due.count { case (i, a) => a <= at && i > watch.covered(at) } }.max
    val drainS = (watch.coveredAt(nFiles).get - burstAt) / 1000.0
    val pending = nFiles - watch.covered(burstAt)
    val catchup = pending.toDouble * cfg.eventsPerFile / drainS
    val trigAll = progress.triggers.asScala.toSeq.sortBy(_.batch)
    ctx.tracer.foreach(t => trigAll.foreach(t.trigger))
    // triggers after the warm-up: the warm-up's (query start, no fold) were
    // committed before `warmAt`, and no feed file arrives between then and
    // the first paced link, so every later trigger starts after `warmAt`
    val trig = trigAll.filter(_.startMs >= warmAt)
    ctx.rep.attempted += due.size
    val missing = due.size - fresh.size
    ctx.rep.failed += missing
    ctx.rep.check("every paced file committed", missing == 0, s"$missing never covered")
    // commit latency of a full micro-batch (4 binlog files, fold included):
    // the catch-up triggers of the burst
    val full = trig.filter(_.rows >= 4L * cfg.eventsPerFile)
    val fullMs = full.map(_.ms)
    val fullCpuMs = full.map(t => watch.cpuS(t.startMs, t.startMs + t.ms) * 1000)
    ctx.rep.e2e("cpu_p50_ms", Stats.median(fullCpuMs), "ms")
    ctx.rep.timing("full_trigger_ms", fullMs, "ms")
    ctx.rep.timing("full_trigger_cpu_ms", fullCpuMs, "ms")
    ctx.rep.timing("trigger_ms", trig.map(_.ms), "ms")
    ctx.rep.timing("freshness_s", fresh, "s")
    ctx.rep.named("catchup_events_per_s", catchup, "events/s",
      s"$pending files in ${"%.3f".format(drainS)} s")
    ctx.rep.named("stream_rows_per_busy_s",
      trig.map(_.rows).sum / (trig.map(_.ms).sum / 1000), "rows/s",
      s"${trig.size} triggers after warm-up")
    ctx.rep.named("paced_rate", sz.tailFilesPerS, "files/s",
      s"${due.size} files of ${cfg.eventsPerFile} events")
    ctx.rep.named("backlog_files_max", backlog.toDouble, "files")
    ctx.rep.named("generator_late_max_s", late, "s")
    val snaps = watch.seen.values().asScala.map(_._2).toSeq.filter(_.id > startId)
    val folding = snaps.filter(_.metrics.getOrElse("compactedBuckets", 0L) > 0).map(_.id)
    ctx.rep.named("compacting_commits", folding.size.toDouble, "count",
      s"of ${snaps.size} commits: ids ${folding.mkString(",")}")

    verifyLake(ctx, "tail final state vs oracle (with evolved size)", lakeRoot,
      want, withSize = true)
    ctx.rep.mark("tail checks")
    ctx.tracer.foreach { t =>
      writePathLayer(ctx, "tail", t.spansNamed("phase.tail").head,
        t.spansNamed("stream.batch"))
      snapshotLayer(ctx.rep, "tail", snaps)
      val fileSteps = snaps.sortBy(_.id).flatMap(_.lastOffset.map(_.fileIdx))
      val steps = fileSteps.zip(fileSteps.drop(1)).map { case (a, b) => (b - a).toDouble }
      ctx.rep.layer("tail.stream.files_per_batch",
        if (steps.isEmpty) 0.0 else steps.sum / steps.size, "count")
      ctx.rep.layer("tail.stream.backlog_files_max", backlog.toDouble, "count")
      ctx.rep.layer("bench.generator_late_max_s", late, "s")
      val latest = (1 to 5).map(_ =>
        Stats.timed(new GraftLake(lakeRoot, Buckets).latest())._2 * 1000)
      ctx.rep.layer("tail.table.latest_ms", Stats.median(latest), "ms")
      val tip = new GraftLake(lakeRoot, Buckets).latest().get.id
      val at = (1 to 5).map(_ =>
        Stats.timed(new GraftLake(lakeRoot, Buckets).snapshotAt(tip))._2 * 1000)
      ctx.rep.layer("tail.table.snapshot_at_ms", Stats.median(at), "ms")
    }
    TailRun(cfg, all, lakeRoot, want)
  }

  // ---- serve -------------------------------------------------------------

  /** One client, closed loop, over the tail's final lake with the delta
    * debt the stream left: a full merge-on-read scan (the tail's final-state
    * gate), point gets (keys drawn under the feed's skew), the stream's last
    * commit as a single-commit changelog window, and a `ChangelogChain.sync`
    * bootstrap of a chained lake. Every result is checked. */
  def serve(ctx: Ctx, cfg: FeedConfig, lake: GraftLake, want: State): Unit = {
    val spark = ctx.spark
    val snap = lake.latest().get
    val rnd = new Random(ctx.args.seed)
    def drawKey(): (String, String) = {
      val kid = if (rnd.nextDouble() < cfg.skew) rnd.nextInt(cfg.nHotKeys)
        else rnd.nextInt(cfg.nKeys)
      (BinlogFeedGen.repoOf(kid), BinlogFeedGen.pathOf(kid))
    }
    val keys = Seq.fill(6)(drawKey())
    // the stream's last commit: its end state is the one the scan reads
    val window = snap.id
    val chained = new GraftLake(ctx.dir("serve-chained"), Buckets)
    var scanS, winS, syncS = 0.0
    var scanned: State = Map.empty
    var gets = Seq.empty[(Option[String], Double)]
    var sync: ChangelogChain.SyncResult = null
    ctx.phase("serve") {
      val (st, readS) = Stats.timed(ctx.span("table.read") {
        stateOf(lake.read(spark, snap), withSize = true) })
      scanned = st
      scanS = readS
      gets = keys.map { k =>
        Stats.timed(ctx.span("table.get") {
          lake.readKey(spark, snap, k._1, k._2)
            .select(sha2(col("content"), 256)).collect().map(_.getString(0)).headOption
        })
      }
      winS = Stats.timed(ctx.span("table.changes") {
        lake.changesBetween(spark, window - 1, window)
          .write.format("noop").mode("overwrite").save()
      })._2
      val (r, s) = Stats.timed(ctx.span("stream.sync") {
        ChangelogChain.sync(spark, lake, chained) })
      sync = r
      syncS = s
    }

    ctx.rep.mark("serve ops")
    ctx.rep.attempted += 1 + gets.size + 2
    val scanD = diff(scanned, want)
    if (scanD.nonEmpty) ctx.rep.failed += 1
    ctx.rep.check("merge-on-read scan vs oracle (with evolved size)", scanD.isEmpty,
      scanD.getOrElse(""))
    val getFails = keys.zip(gets).count { case (k, (got, _)) => got != want.get(k).map(_._1) }
    ctx.rep.failed += getFails
    ctx.rep.check(s"${gets.size} readKey results vs oracle rows", getFails == 0,
      s"$getFails differ")
    val before = stateOf(lake.read(spark, lake.snapshotAt(window - 1)), withSize = false)
    val after = scanned.map { case (k, (sha, _)) => k -> (sha, None) }
    val applied = lake.changesBetween(spark, window - 1, window)
      .select(col("repo"), col("path"), sha2(col("content"), 256), col("_deleted"))
      .collect().foldLeft(before) { (st, r) =>
        val k = (r.getString(0), r.getString(1))
        if (r.getBoolean(3)) st - k else st.updated(k, (r.getString(2), None))
      }
    val winD = diff(applied, after)
    if (winD.nonEmpty) ctx.rep.failed += 1
    ctx.rep.check(s"changesBetween(${window - 1}, $window) applied to " +
      s"snapshotAt(${window - 1}) = snapshotAt($window)", winD.isEmpty, winD.getOrElse(""))
    // the source equals the oracle (checked above), so compare with that
    val syncD = diff(lakeState(spark, chained.root, withSize = true), want)
    if (syncD.nonEmpty || !sync.bootstrapped) ctx.rep.failed += 1
    ctx.rep.check("chained lake equals its source", syncD.isEmpty && sync.bootstrapped,
      syncD.getOrElse(s"bootstrapped=${sync.bootstrapped}"))

    ctx.rep.mark("serve checks")
    val rows = want.size.toDouble
    ctx.rep.named("scan_rows_per_s", rows / scanS, "rows/s",
      s"${rows.toLong} live rows, content hashed and collected")
    ctx.rep.timing("get_ms", gets.map(_._2 * 1000), "ms")
    ctx.rep.named("changes_s", winS, "s", s"window (${window - 1}, $window]")
    ctx.rep.named("sync_rows_per_s", sync.rowsApplied / syncS, "rows/s", "bootstrap")

    ctx.tracer.foreach { t =>
      ctx.rep.layer("serve.table.read_s", scanS, "s")
      ctx.rep.layer("serve.table.read_busy_s",
        t.jobsLabelled("table.read").map(_.busyMs.get).sum / 1000.0, "s")
      val dirty = snap.files.filter(_.delta).flatMap(_.bucketsCovered).distinct.size
      ctx.rep.layer("serve.table.dirty_bucket_frac", dirty.toDouble / Buckets, "ratio")
      val fs = new org.apache.hadoop.fs.Path(lake.root).getFileSystem(GraftLake.hadoopConf())
      val bytes = snap.files.map(f =>
        fs.getFileStatus(new org.apache.hadoop.fs.Path(f.path)).getLen).sum
      ctx.rep.layer("serve.table.bytes_per_live_row", bytes / rows, "B")
      ctx.rep.layer("serve.table.get_files_planned", Stats.median(keys.map { k =>
        val b = GraftLake.bucketOf(k._1, k._2, Buckets)
        snap.files.count(_.covers(b)).toDouble }), "count")
      ctx.rep.layer("serve.table.get_jobs",
        t.jobsLabelled("table.get").size.toDouble / gets.size, "count")
      ctx.rep.layer("serve.table.changes_files_scanned",
        lake.snapshotLog().find(_.id == window).map(_.added.size).getOrElse(0).toDouble,
        "count")
      ctx.rep.layer("serve.table.changes_rows_out",
        lake.changesBetween(spark, window - 1, window).count().toDouble, "count")
      ctx.rep.layer("serve.stream.sync_s", syncS, "s")
    }
  }
}
