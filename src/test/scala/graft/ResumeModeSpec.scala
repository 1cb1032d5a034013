package graft

import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.model.Offset
import graft.stream.{CdcIngestJob, IngestConfig, ResumeMode, TooOldOffsetException}
import graft.table.GraftLake

/** Resume-mode suite (SURVEY.md §5.2.5): CONTINUE / LAST_POS / FROM_POS
  * mappings (reference D8, server/akkaSystem/TableBinglogActor.java:95-116)
  * and the too-old-offset rejection (O3,
  * server/infoPersistent/BinlogDataStorageWithLevelDB.java:262-289). */
class ResumeModeSpec extends SparkSuite {

  val cfg: FeedConfig = FeedConfig(nEvents = 2000, nKeys = 150,
    eventsPerFile = 250, decoyFrac = 0.0)

  test("FROM_POS applies only events strictly after the given offset") {
    val feedDir = tmp("f1"); val lakeRoot = tmp("l1")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    // replay only from the start of binlog file 5
    val from = Offset(4, Long.MaxValue, Long.MaxValue)
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c1"), nBuckets = 4,
      resumeMode = ResumeMode.FromPos(from)))
    assert(m.eventsIn == cfg.nEvents - 4 * cfg.eventsPerFile)
    val lake = new GraftLake(lakeRoot, 4)
    val snap = lake.latest().get
    val minApplied = lake.read(spark, snap)
      .selectExpr("min(_offset.fileIdx)").collect()(0).getLong(0)
    assert(minApplied >= 5)
  }

  test("CONTINUE starts from the latest feed offset (nothing to apply)") {
    val feedDir = tmp("f2"); val lakeRoot = tmp("l2")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c2"), nBuckets = 4,
      resumeMode = ResumeMode.Continue))
    assert(m.eventsIn == 0 && m.applied == 0)
  }

  test("LAST_POS with no prior state replays from earliest") {
    val feedDir = tmp("f3"); val lakeRoot = tmp("l3")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c3"), nBuckets = 4,
      resumeMode = ResumeMode.LastPos))
    assert(m.eventsIn == cfg.nEvents)
  }

  test("FROM_GTID: named alias and raw seqId both resolve to FROM_POS semantics") {
    val feedDir = tmp("f6"); val lakeRootA = tmp("l6a"); val lakeRootB = tmp("l6b")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val from = Offset(4, Long.MaxValue, Long.MaxValue)
    // named alias through the gtid map
    val mA = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRootA, tmp("c8"), nBuckets = 4,
      resumeMode = ResumeMode.FromGtid("after-file-4"),
      gtidMap = Map("after-file-4" -> from)))
    // raw reference seqId syntax (fileIdx_pos_rowIdx), no map entry
    val mB = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRootB, tmp("c9"), nBuckets = 4,
      resumeMode = ResumeMode.FromGtid(from.render)))
    assert(mA.eventsIn == cfg.nEvents - 4 * cfg.eventsPerFile)
    assert(mB.eventsIn == mA.eventsIn && mB.applied == mA.applied)
    // too-old gtids get the same strict O3 validation as FROM_POS
    intercept[graft.stream.TooOldOffsetException] {
      val trimmed = tmp("f6t")
      BinlogFeedGen.writeFeed(spark, cfg, trimmed)
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(new java.io.File(trimmed, "_file=f00001"))
      CdcIngestJob.replayBatch(spark, IngestConfig(
        trimmed, tmp("l6c"), tmp("c10"), nBuckets = 4,
        resumeMode = ResumeMode.FromGtid("1_0_0")))
    }
  }

  test("too-old FROM_POS is an error, not a silent skip (O3)") {
    val feedDir = tmp("f4"); val lakeRoot = tmp("l4")
    // feed retained only from file 4 onward (files 1-3 trimmed)
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    for (f <- 1 to 3) {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(new java.io.File(feedDir, f"_file=f$f%05d"))
    }
    intercept[TooOldOffsetException] {
      CdcIngestJob.replayBatch(spark, IngestConfig(
        feedDir, lakeRoot, tmp("c4"), nBuckets = 4,
        resumeMode = ResumeMode.FromPos(Offset(1, 0, 0))))
    }
    // adjacent offset (end of file 3) is fine: nothing was missed
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c5"), nBuckets = 4,
      resumeMode = ResumeMode.FromPos(Offset(3, Long.MaxValue, Long.MaxValue))))
    assert(m.eventsIn == cfg.nEvents - 3 * cfg.eventsPerFile)
  }

  test("a batch whose files all precede the resume bound is skipped from " +
    "file metadata alone — zero Spark jobs (round-4 fast path)") {
    val feedDir = tmp("f7"); val lakeRoot = tmp("l7")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val lake = new GraftLake(lakeRoot, 4)
    lake.init(graft.model.Schemas.targetBase)
    val spec = graft.stream.TableSpec(
      BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot, nBuckets = 4)
    // a microbatch is a WINDOW of binlog files (what maxFilesPerTrigger
    // hands foreachBatch) — materialize the window as its own source dir so
    // the batch's file list is exactly files 1..n, like the streaming source
    def window(n: Int): org.apache.spark.sql.DataFrame = {
      val d = java.nio.file.Paths.get(tmp(s"f7w$n"))
      (1 to n).foreach { i =>
        val src = java.nio.file.Paths.get(feedDir, f"_file=f$i%05d")
        val dst = d.resolve(f"_file=f$i%05d")
        java.nio.file.Files.createDirectories(dst)
        java.nio.file.Files.list(src).iterator().forEachRemaining { p =>
          java.nio.file.Files.copy(p, dst.resolve(p.getFileName.toString)); ()
        }
      }
      graft.feed.FeedReader.readBatch(spark, d.toString)
    }
    // the microbatch delivers files 1-2; the resume bound is past file 3
    val batch = window(2)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = CdcIngestJob.applyTableBatch(spark, lake, spec, batch,
        batchId = 1, fromPos = Some(Offset(3, Long.MaxValue, Long.MaxValue)),
        lineage = "", broadcastKeyLimit = 4000000L)
      Thread.sleep(1000) // listener events are async; let any job surface
      assert(m.eventsIn == 0 && m.applied == 0)
      assert(jobs.get() == 0,
        s"all-below-bound batch must be decided from file metadata, " +
          s"ran ${jobs.get()} Spark jobs")
      assert(lake.latest().get.id == 0, "skip must not commit")
      // a batch STRADDLING the bound takes the scan path and applies only
      // the post-bound file — and proves the job counter actually counts
      val straddle = window(4)
      val m2 = CdcIngestJob.applyTableBatch(spark, lake, spec, straddle,
        batchId = 2, fromPos = Some(Offset(3, Long.MaxValue, Long.MaxValue)),
        lineage = "", broadcastKeyLimit = 4000000L)
      assert(m2.eventsIn == cfg.eventsPerFile,
        s"straddling batch must apply exactly file 4 (got ${m2.eventsIn})")
      Thread.sleep(1000)
      assert(jobs.get() > 0, "instrument check: the scan path must run jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a fresh LAST_POS replay runs no feed-range job; a FROM_POS replay " +
    "runs it for its resume guard") {
    val feedDir = tmp("f9")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(s.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).foreach(descs.add)
    }
    def rangeJobs(mode: ResumeMode, name: String): Int = {
      descs.clear()
      CdcIngestJob.replayBatch(spark, IngestConfig(
        feedDir, tmp(s"l9$name"), tmp(s"c9$name"), nBuckets = 4,
        resumeMode = mode))
      Thread.sleep(1000) // listener events are async; let any job surface
      descs.toArray.count(_ == "graft: feed range")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(rangeJobs(ResumeMode.LastPos, "a") == 0,
        "a fresh LAST_POS replay has no resume guard and nothing to fold")
      assert(rangeJobs(ResumeMode.FromPos(Offset(4, Long.MaxValue,
        Long.MaxValue)), "b") > 0,
        "instrument check: FROM_POS guards against the feed range")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("LAST_POS over a trimmed feed with a stale lake offset errors (O3)") {
    val feedDir = tmp("f5"); val lakeRoot = tmp("l5")
    BinlogFeedGen.writeFeed(spark, cfg.copy(nEvents = 500), feedDir)
    // build a lake whose lastOffset ends at file 2
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c6"), nBuckets = 4))
    // now simulate the feed moving on: regenerate with only later files kept
    BinlogFeedGen.writeFeed(spark, cfg.copy(nEvents = 2000), feedDir)
    for (f <- 1 to 5) {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(new java.io.File(feedDir, f"_file=f$f%05d"))
    }
    intercept[TooOldOffsetException] {
      CdcIngestJob.replayBatch(spark, IngestConfig(
        feedDir, lakeRoot, tmp("c7"), nBuckets = 4))
    }
  }
}
