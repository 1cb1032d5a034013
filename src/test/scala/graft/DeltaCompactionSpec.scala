package graft

import graft.feed.{BinlogFeedGen, ReplayOracle}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, IngestConfig}
import graft.table.GraftLake
import org.apache.spark.sql.functions._

/** The round-2 verdict's one genuine scale-killer, pinned: steady-state
  * streaming over a pre-built lake must write O(batch)-sized deltas per
  * microbatch — NOT rewrite every touched bucket whole (O(table size)) —
  * while compaction bounds the accumulated delta debt and the final state
  * stays row-exact vs the replay oracle. */
class DeltaCompactionSpec extends SparkSuite {

  test("steady-state microbatches write O(batch) deltas; compaction fires; " +
    "final state is exact") {
    val full = FeedConfig(nEvents = 12000, nKeys = 2000, eventsPerFile = 400,
      noopFrac = 0.0, decoyFrac = 0.0)
    val prefix = full.copy(nEvents = 4000) // same deterministic prefix
    val feedDir = tmp("feed"); val lakeRoot = tmp("lake")

    // phase 1: one-shot replay of the prefix = the pre-built "large" lake
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp1"), nBuckets = 8))
    val lake = new GraftLake(lakeRoot, 8)
    val tableRows = lake.read(spark, lake.latest().get).count()
    assert(tableRows > 1500, s"pre-built lake too small ($tableRows rows)")

    // phase 2: the feed grows; steady-state one-file microbatches resume
    // from the lake's lastOffset (fresh checkpoint, LastPos)
    BinlogFeedGen.writeFeed(spark, full, feedDir)
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp2"), nBuckets = 8, maxFilesPerTrigger = 1))
    q.awaitTermination()

    // per-batch accounting from the snapshot metrics record (~21 commits,
    // all inside the default expireKeep of 50): every steady-state batch
    // wrote at most its OWN winner count (≤ eventsPerFile), never the
    // table; and compaction fired at least once across the run.
    val ms = lake.snapshotLog()
      .filter(_.metrics.getOrElse("rowsWritten", 0L) > 0)
    val steady = ms.filter(_.metrics("eventsIn") <= full.eventsPerFile)
    assert(steady.length >= 15, s"expected ~20 steady-state batches, got ${steady.length}")
    steady.foreach { s =>
      val m = s.metrics
      val written = m("rowsWritten")
      val winners = m("watchedRows") - m("noopDrops") - m("dedupDrops")
      assert(written == winners,
        s"batch ${s.batchId}: wrote $written rows != $winners winners " +
          "(delta writes must be exactly the batch's winners)")
      assert(written <= full.eventsPerFile,
        s"batch wrote $written rows > batch bound ${full.eventsPerFile} — O(table) rewrite leak")
    }
    assert(ms.exists(_.metrics("compactedBuckets") > 0),
      "compaction never fired across 20 delta-accumulating batches")

    // merge-on-read + compaction preserve exactness (sha256 row-by-row)
    val got = lake.read(spark, lake.latest().get)
      .withColumn("sha", sha2(col("content"), 256))
      .orderBy("repo", "path").collect()
    val want = ReplayOracle.finalState(full)
    assert(got.length == want.length, s"rows ${got.length} != oracle ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getAs[String]("repo") == w.repo && g.getAs[String]("path") == w.path)
      assert(g.getAs[String]("commit") == w.commit && g.getAs[String]("content") == w.content)
      assert(g.getAs[String]("sha") == ReplayOracle.sha256Hex(w.content))
    }
  }

  test("a bucket holding base + many deltas reads one live row per key") {
    val cfg = FeedConfig(nEvents = 3000, nKeys = 120, eventsPerFile = 300,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("feed2"); val lakeRoot = tmp("lake2")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    // maxDeltaFiles/compactFactor pushed out of reach → deltas only
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp"), nBuckets = 4, maxFilesPerTrigger = 1,
      tables = Seq(graft.stream.TableSpec(
        BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot,
        nBuckets = 4, compactFactor = 1e9, maxDeltaFiles = Int.MaxValue))))
    q.awaitTermination()
    val lake = new GraftLake(lakeRoot, 4)
    val snap = lake.latest().get
    assert(snap.files.count(_.delta) >= 8,
      s"fixture should accumulate many deltas (got ${snap.files.count(_.delta)})")
    val df = lake.read(spark, snap)
    assert(df.groupBy("repo", "path").count().filter(col("count") > 1).isEmpty,
      "merge-on-read must yield exactly one live row per key")
    val want = ReplayOracle.finalState(cfg)
    assert(df.count() == want.size)
  }

  test("an empty microbatch over a debt-carrying lake neither commits nor " +
    "strands compaction output as orphans") {
    val cfg = FeedConfig(nEvents = 2000, nKeys = 150, eventsPerFile = 200,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("feedE"); val lakeRoot = tmp("lakeE")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    // build a lake carrying delta debt (compaction pushed out of reach)
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cpE"), nBuckets = 4, maxFilesPerTrigger = 2,
      tables = Seq(graft.stream.TableSpec(
        BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot,
        nBuckets = 4, compactFactor = 1e9, maxDeltaFiles = Int.MaxValue))))
    q.awaitTermination()
    val lake = new GraftLake(lakeRoot, 4)
    val before = lake.latest().get
    assert(before.files.exists(_.delta), "fixture must carry delta debt")
    def dataFiles(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(lakeRoot, "data"))
        .iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
    }
    val filesBefore = dataFiles()
    // an aggressively-compacting spec sees an EMPTY batch: must be a no-op
    val empty = graft.feed.FeedReader.readBatch(spark, feedDir)
      .filter(col("offset.fileIdx") > 9999)
    val m = CdcIngestJob.applyTableBatch(spark, lake,
      graft.stream.TableSpec(BinlogFeedGen.WatchedDb,
        BinlogFeedGen.WatchedTable, lakeRoot, nBuckets = 4,
        compactFactor = 0.0, maxDeltaFiles = 1),
      empty, batchId = before.batchId + 1, fromPos = None, lineage = "",
      broadcastKeyLimit = 4000000L)
    assert(m.eventsIn == 0 && m.compactedBuckets == 0)
    assert(lake.latest().get.id == before.id, "empty batch must not commit")
    assert(dataFiles() == filesBefore,
      "empty batch stranded compaction output on disk")
  }

  test("a DISCARDED speculative fold is not re-kicked against the same " +
    "parent snapshot: a run of empty batches stops churning the due " +
    "buckets, and the fold rides the next commit (round-5 review)") {
    val cfg = FeedConfig(nEvents = 2000, nKeys = 150, eventsPerFile = 200,
      noopFrac = 0.0, decoyFrac = 0.0, dupTailFrac = 0.0)
    val prefix = cfg.copy(nEvents = 1600) // files 9..10 held back
    val feedDir = tmp("feedCh"); val lakeRoot = tmp("lakeCh")
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cpCh"), nBuckets = 4, maxFilesPerTrigger = 2,
      tables = Seq(graft.stream.TableSpec(
        BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot,
        nBuckets = 4, compactFactor = 1e9, maxDeltaFiles = Int.MaxValue))))
    q.awaitTermination()
    val lake = new GraftLake(lakeRoot, 4)
    val snap0 = lake.latest().get
    val debt0 = snap0.files.count(_.delta)
    assert(debt0 > 0, "fixture must carry delta debt")

    BinlogFeedGen.writeFeed(spark, cfg, feedDir) // feed grows: files 9, 10
    val feed = graft.feed.FeedReader.readBatch(spark, feedDir)
    val spec = graft.stream.TableSpec(BinlogFeedGen.WatchedDb,
      BinlogFeedGen.WatchedTable, lakeRoot, nBuckets = 4,
      compactFactor = 0.0, maxDeltaFiles = 1)
    def apply(b: org.apache.spark.sql.DataFrame, id: Long) =
      CdcIngestJob.applyTableBatch(spark, lake, spec, b, id,
        fromPos = None, lineage = "churn", broadcastKeyLimit = 4000000L)
    val empty = feed.filter(col("offset.fileIdx") > 9999)

    val p0 = graft.merge.MergeApply.planRuns.get()
    apply(empty, snap0.batchId + 1) // speculative fold runs, then discards
    assert(graft.merge.MergeApply.planRuns.get() == p0 + 1)
    apply(empty, snap0.batchId + 2) // identical parent snapshot: no re-kick
    apply(empty, snap0.batchId + 3)
    assert(graft.merge.MergeApply.planRuns.get() == p0 + 1,
      "a discarded speculative fold was re-kicked against the same " +
        "snapshot — empty batches churn the same buckets forever")

    // the next COMMITTING batch clears the marker (its own fold is
    // deferred — at batch start it cannot yet know it will commit)...
    apply(feed.filter(col("offset.fileIdx") === 9), snap0.batchId + 4)
    assert(lake.latest().get.id == snap0.id + 1, "data batch must commit")
    assert(graft.merge.MergeApply.planRuns.get() == p0 + 1)
    // ...and the fold rides the one after, retiring the debt
    apply(feed.filter(col("offset.fileIdx") === 10), snap0.batchId + 5)
    assert(graft.merge.MergeApply.planRuns.get() == p0 + 2,
      "the fold must resume once a commit advances the snapshot")
    val after = lake.latest().get
    assert(after.files.count(_.delta) < debt0 + 2,
      s"debt did not retire: ${after.files.count(_.delta)} delta files " +
        s"vs $debt0 before")
  }

  test("compaction folds buckets of MIXED schema versions: pre-DDL base + " +
    "evolved deltas land as current-schema base files, values exact") {
    val full = FeedConfig(nEvents = 6000, nKeys = 400, eventsPerFile = 300,
      noopFrac = 0.0, decoyFrac = 0.0,
      ddlAt = BinlogFeedGen.evolutionDdls(6000)) // DDLs at 40% and 70%
    val prefix = full.copy(nEvents = 1800) // entirely pre-DDL
    val feedDir = tmp("feed3"); val lakeRoot = tmp("lake3")
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cpa"), nBuckets = 4)) // v0-schema base files
    BinlogFeedGen.writeFeed(spark, full, feedDir)
    // aggressive compaction → every bucket folds at least once after the
    // DDLs, forcing the fold to read v0 base + v1/v2 deltas together
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cpb"), nBuckets = 4, maxFilesPerTrigger = 2,
      tables = Seq(graft.stream.TableSpec(
        BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot,
        nBuckets = 4, compactFactor = 0.1, maxDeltaFiles = 2))))
    q.awaitTermination()
    val lake = new GraftLake(lakeRoot, 4)
    val snap = lake.latest().get
    assert(snap.schemaVersion == 2, s"schema should be fully evolved (got ${snap.schemaVersion})")
    val got = lake.read(spark, snap)
      .select("repo", "path", "commit", "content", "size")
      .orderBy("repo", "path").collect()
    val want = ReplayOracle.finalState(full)
    assert(got.length == want.length, s"rows ${got.length} != oracle ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.repo && g.getString(1) == w.path &&
        g.getString(2) == w.commit && g.getString(3) == w.content,
        s"mismatch at ${w.repo}/${w.path}")
      assert((if (g.isNullAt(4)) None else Some(g.getLong(4))) == w.size,
        s"evolved size mismatch at ${w.repo}/${w.path}")
    }
  }

  test("tombstones below the feed-retention horizon are physically dropped " +
    "at compaction, and a sub-horizon replay cannot resurrect the rows " +
    "(round-3 verdict #3)") {
    import graft.model.Offset
    // many keys relative to feed length so plenty of keys STOP getting
    // events early — their final DELETEs become sub-horizon tombstones
    val full = FeedConfig(nEvents = 6000, nKeys = 1000, eventsPerFile = 300,
      noopFrac = 0.0, decoyFrac = 0.0)
    val prefix = full.copy(nEvents = 3000) // files 1..10, same prefix
    val feedDir = tmp("feedT"); val lakeRoot = tmp("lakeT")
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cpT1"), nBuckets = 4))
    val lake = new GraftLake(lakeRoot, 4)

    // the feed GROWS to 20 files, then files 1..8 are TRIMMED (the
    // reference's count-trim retention): the remaining minimum offset is
    // the O3 too-old bound = the tombstone GC horizon
    BinlogFeedGen.writeFeed(spark, full, feedDir)
    import scala.jdk.CollectionConverters._
    (1 to 8).foreach { i =>
      val d = java.nio.file.Paths.get(feedDir, f"_file=f$i%05d")
      if (java.nio.file.Files.exists(d)) {
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val horizon = CdcIngestJob.feedOffsetRange(spark, feedDir)._1
    assert(horizon.fileIdx == 9, s"trim fixture broken: $horizon")
    def tombstonesBelow(h: Offset): Long =
      lake.read(spark, lake.latest().get, includeTombstones = true)
        .filter(col("_deleted") &&
          Offset.encExpr(col("_offset")) < lit(Offset.encode(h)))
        .count()
    val doomed = tombstonesBelow(horizon)
    assert(doomed > 0, "fixture must hold tombstones below the horizon")

    // steady-state stream with aggressive compaction: every fold runs
    // under the horizon computed at job start
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cpT2"), nBuckets = 4, maxFilesPerTrigger = 2,
      tables = Seq(graft.stream.TableSpec(
        BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot,
        nBuckets = 4, compactFactor = 0.0, maxDeltaFiles = 1))))
    q.awaitTermination()

    assert(tombstonesBelow(horizon) == 0,
      "compaction must physically drop tombstones the retained feed can " +
        "never outrun")
    // live state stays row-exact vs the oracle (dropping a sub-horizon
    // tombstone can never change visible rows)
    val got = lake.read(spark, lake.latest().get)
      .withColumn("sha", sha2(col("content"), 256))
      .orderBy("repo", "path").collect()
    val want = ReplayOracle.finalState(full)
    assert(got.length == want.length, s"rows ${got.length} != oracle ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getAs[String]("repo") == w.repo && g.getAs[String]("path") == w.path &&
        g.getAs[String]("sha") == ReplayOracle.sha256Hex(w.content))
    }
    // ...and the other half of the safety argument: a resume BELOW the
    // horizon is refused outright (O3), so no sub-horizon event can ever
    // be re-delivered to resurrect a dropped tombstone's key
    intercept[graft.stream.TooOldOffsetException] {
      CdcIngestJob.runStream(spark, IngestConfig(
        feedDir, lakeRoot, tmp("cpT3"), nBuckets = 4,
        resumeMode = graft.stream.ResumeMode.FromPos(Offset(2, 0, 0))))
    }
  }

  test("suggestedBuckets grows with table size and stays a clamped power of two") {
    import GraftLake.suggestedBuckets
    assert(suggestedBuckets(1000L) == 8) // floor
    assert(suggestedBuckets(100000000L) == 32) // 1e8 / 4M → 25 → 32
    assert(suggestedBuckets(10000000000L) == 4096) // 1e10 / 4M → 2500 → 4096
    assert(suggestedBuckets(Long.MaxValue) == (1 << 16)) // ceiling
    val xs = Seq(1L, 1000000L, 1000000000L, 100000000000L).map(suggestedBuckets(_))
    assert(xs == xs.sorted, "monotone in table size")
    xs.foreach(b => assert((b & (b - 1)) == 0, s"$b not a power of two"))
  }

  test("tombstone GC is blocked while an unconsumed wide delta file can " +
    "still hold an older live copy of the key (round-5 review: no " +
    "resurrection through the split tier)") {
    import graft.merge.MergeApply
    import graft.model.{Offset, Schemas}
    import org.apache.spark.sql.Row
    // The two-tier plan folds narrow clusters while a WIDE L0 file merely
    // has its slice absorbed — the file itself survives. If that fold also
    // GCs an expired tombstone, a stale re-delivered live copy of the same
    // key inside the surviving wide file becomes the key's LWW winner: a
    // resurrection. This builds that exact interleaving by hand (a real
    // stream needs nBuckets >= 2048 for wide files; the geometry is
    // identical at width 4 over 8 buckets with fold budget 2).
    val nb = 8
    val lake = new GraftLake(tmp("l-resur"), nb)
    var snap = lake.init(Schemas.targetBase)
    val repo = "r1"
    def keyIn(b: Int, skip: Int): String = (0 to 999).map(i => s"p$i")
      .filter(p => GraftLake.bucketOf(repo, p, nb) == b).drop(skip).head
    val b = 5
    val kDel = keyIn(b, 0)  // deleted key: tombstone in base, stale copy in wide
    val kLive = keyIn(b, 1) // live key whose narrow delta creates fold debt
    def df(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.targetBase)
    def commitAdd(files: Seq[GraftLake.FileEntry]): Unit = {
      snap = lake.commit(snap.copy(id = snap.id + 1, parentId = snap.id,
        batchId = snap.batchId + 1, files = snap.files ++ files,
        addedFiles = files))
    }
    // base: kDel's DELETE at o2 (already folded); wide delta (width 4 > the
    // fold budget 2): a stale re-delivered live kDel@o1 — written while the
    // feed still retained o1, harmless under the tombstone's LWW shadow;
    // narrow delta: kLive@o4 — the fold-tier debt that makes the cluster due
    def write(rows: Seq[Row], batchId: Long, delta: Boolean,
        rangeWidth: Int = 1) = lake.writeData(df(rows), Schemas.targetBase,
      schemaVersion = 0, batchId, delta, rangeWidth = rangeWidth)
    commitAdd(write(
      Seq(Row(repo, kDel, "c2", "scala", null, Row(2L, 0L, 0L), true)),
      batchId = 1, delta = false))
    val wide = write(
      Seq(Row(repo, kDel, "c1", "scala", "v1", Row(1L, 0L, 0L), false)),
      batchId = 2, delta = true, rangeWidth = 4)
    assert(wide.head.hi - wide.head.bucket + 1 == 4, s"must be wide: $wide")
    commitAdd(wide)
    commitAdd(write(
      Seq(Row(repo, kLive, "c3", "scala", "v3", Row(4L, 0L, 0L), false)),
      batchId = 3, delta = true))
    assert(lake.read(spark, snap).collect().map(_.getString(1)).toSeq
      == Seq(kLive), "tombstone must shadow the stale wide-file copy")

    // full drain under a horizon past the tombstone (o2 < horizon). The
    // first commit folds cluster [5,5] WHILE the wide file still overlaps
    // it (and splits the wide file in the same commit) — the dangerous
    // interleaving; the fold must KEEP the expired tombstone there. The
    // next commit folds the split's narrow outputs, consuming the last
    // copy of kDel@o1 — only then may the tombstone drop.
    val r = MergeApply.optimize(spark, lake, maxBucketsPerCommit = 2,
      tombstoneHorizon = Some(Offset(3L, 0L, 0L)))
    assert(r.commits >= 2, s"drain must take >= 2 commits, got ${r.commits}")
    val first = lake.snapshotLog().find(_.id == snap.id + 1).get
    assert(first.metrics.getOrElse("compactedBuckets", 0L) > 0 &&
      first.metrics.getOrElse("splitBuckets", 0L) > 0,
      s"fixture must fold and split in ONE commit, got ${first.metrics}")

    val after = lake.latest().get
    val live = lake.read(spark, after).collect().map(_.getString(1)).toSeq
    assert(live == Seq(kLive),
      s"deleted key resurrected through the surviving wide file: $live")
    // and the tombstone did eventually drop once every copy was consumed
    assert(lake.read(spark, after, includeTombstones = true).count() == 1,
      "expired tombstone must drop after the wide file's rows are consumed")
  }
}
