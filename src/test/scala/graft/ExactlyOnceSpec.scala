package graft

import graft.feed.{BinlogFeedGen, FeedReader, ReplayOracle}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, ChangelogStreamSource, IngestConfig}
import graft.table.GraftLake
import org.apache.spark.sql.functions._

/** Exactly-once suite (SURVEY.md §5.2.3): replayed batchIds no-op, kill +
  * rerun from checkpoint converges, duplicate feed events absorbed. The
  * reference is only at-least-once with consumer idempotence (ack recorded
  * after handler execution — client/akkaSystem/SingleTableBinlogClientActor.java:136-142);
  * the north rule upgrades that to exactly-once via idempotent commits. */
class ExactlyOnceSpec extends SparkSuite {

  val cfg: FeedConfig = FeedConfig(nEvents = 3000, nKeys = 250,
    eventsPerFile = 300, dupTailFrac = 0.3)

  private def tableState(lakeRoot: String, nBuckets: Int = 8) = {
    val lake = new GraftLake(lakeRoot, nBuckets)
    val snap = lake.latest().get
    (snap, lake.read(spark, snap)
      .select("repo", "path", "commit", "content")
      .orderBy("repo", "path").collect().toSeq)
  }

  test("replayed batchId is fenced: same batch applied twice = applied once") {
    val feedDir = tmp("f1"); val lakeRoot = tmp("l1")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val ing = IngestConfig(feedDir, lakeRoot, tmp("c1"), nBuckets = 8)
    val lake = new GraftLake(lakeRoot, 8)
    lake.init(graft.model.Schemas.targetBase)
    val batch = FeedReader.readBatch(spark, feedDir)
    val m1 = CdcIngestJob.applyTableBatch(spark, lake, ing.specs.head, batch,
      batchId = 0, fromPos = None, lineage = "",
      broadcastKeyLimit = ing.broadcastKeyLimit)
    assert(!m1.replayedSkip && m1.applied > 0)
    val snapAfter = lake.latest().get
    val m2 = CdcIngestJob.applyTableBatch(spark, lake, ing.specs.head, batch,
      batchId = 0, fromPos = None, lineage = "",
      broadcastKeyLimit = ing.broadcastKeyLimit)
    assert(m2.replayedSkip, "replayed batch must be fenced")
    assert(lake.latest().get.id == snapAfter.id, "no new snapshot on replay")
  }

  test("kill mid-stream + rerun from checkpoint reaches the oracle state") {
    val feedDir = tmp("f2"); val lakeRoot = tmp("l2"); val cp = tmp("c2")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val ing = IngestConfig(feedDir, lakeRoot, cp, nBuckets = 8,
      maxFilesPerTrigger = 1)
    // run 1: process a couple of microbatches, then kill
    val q1 = CdcIngestJob.runStream(spark, ing)
    var spins = 0
    while (new GraftLake(lakeRoot, 8).latest().forall(_.batchId < 1) && spins < 600) {
      Thread.sleep(100); spins += 1
    }
    q1.stop() // hard stop mid-replay
    val midSnap = new GraftLake(lakeRoot, 8).latest().get
    assert(midSnap.batchId >= 1, "stream made progress before kill")
    // run 2: resume from the same checkpoint
    val q2 = CdcIngestJob.runStream(spark, ing)
    q2.awaitTermination()
    val (snap, got) = tableState(lakeRoot)
    val want = ReplayOracle.finalState(cfg)
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.repo && g.getString(1) == w.path &&
        g.getString(2) == w.commit && g.getString(3) == w.content)
    }
    assert(snap.batchId > midSnap.batchId)
  }

  test("fresh checkpoint over an existing lake loses nothing (lineage fence)") {
    // a recreated checkpoint restarts batchIds at 0; a bare batchId fence
    // would skip those batches as "replayed" — silent data loss (round-1
    // advice). The fence is scoped to the checkpoint lineage and LAST_POS
    // bounds reprocessing by the lake's lastOffset instead.
    val feedDir = tmp("f4"); val lakeRoot = tmp("l4")
    val half = cfg.copy(nEvents = 1500, dupTailFrac = 0.0)
    val full = cfg.copy(nEvents = 3000, dupTailFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, half, feedDir)
    val q1 = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c4a"), nBuckets = 8, maxFilesPerTrigger = 2))
    q1.awaitTermination()
    val lakeAfterHalf = new GraftLake(lakeRoot, 8).latest().get
    assert(lakeAfterHalf.batchId >= 1, "first run committed multiple batches")
    // the feed grows (same deterministic prefix), the checkpoint is LOST
    BinlogFeedGen.writeFeed(spark, full, feedDir)
    val q2 = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c4b"), nBuckets = 8, maxFilesPerTrigger = 2))
    q2.awaitTermination()
    val (_, got) = tableState(lakeRoot)
    val want = ReplayOracle.finalState(full)
    assert(got.size == want.size,
      s"rows ${got.size} != oracle ${want.size} — fresh checkpoint dropped batches")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.repo && g.getString(1) == w.path &&
        g.getString(2) == w.commit && g.getString(3) == w.content)
    }
  }

  test("duplicate feed events across different batches are absorbed") {
    val feedDir = tmp("f3"); val lakeRoot = tmp("l3")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val ing = IngestConfig(feedDir, lakeRoot, tmp("c3"), nBuckets = 8)
    val lake = new GraftLake(lakeRoot, 8)
    lake.init(graft.model.Schemas.targetBase)
    val batch = FeedReader.readBatch(spark, feedDir)
    // batch 0: everything; batch 1: a re-delivered slice (lower offsets)
    CdcIngestJob.applyTableBatch(spark, lake, ing.specs.head, batch,
      batchId = 0, fromPos = None, lineage = "",
      broadcastKeyLimit = ing.broadcastKeyLimit)
    val (_, before) = tableState(lakeRoot)
    val slice = batch.filter(col("offset.fileIdx") <= 3)
    val m = CdcIngestJob.applyTableBatch(spark, lake, ing.specs.head, slice,
      batchId = 1, fromPos = None, lineage = "",
      broadcastKeyLimit = ing.broadcastKeyLimit)
    assert(!m.replayedSkip)
    val (_, after) = tableState(lakeRoot)
    assert(after == before, "re-delivered lower-offset events must not change state")
  }

  test("a blank lineage file (torn write) reads as absent, never as " +
    "lineage \"\" (round-5 review: \"\" is replayBatch's sentinel — " +
    "colliding with it re-arms the bare-batchId fence)") {
    val cp = tmp("lin-cp")
    val dir = new java.io.File(cp); dir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(cp, "graft-lineage"), Array.empty[Byte])
    val id = CdcIngestJob.checkpointLineage(cp)
    assert(id.nonEmpty, "blank lineage file must be re-minted, not adopted")
    // the re-minted id is durable: a second read returns the same one
    assert(CdcIngestJob.checkpointLineage(cp) == id)
    // and a real id round-trips untouched
    assert(CdcIngestJob.checkpointLineage(cp) == id)
  }

  test("a blank persisted changelog-source base (torn write) reads as " +
    "absent and is published again, then read back unchanged") {
    val root = tmp("sb-lake"); val meta = tmp("sb-meta")
    val lake = new GraftLake(root, 8)
    val s0 = lake.init(graft.model.Schemas.targetBase)
    new java.io.File(meta).mkdirs()
    val base = java.nio.file.Paths.get(meta, "graft-source-base")
    java.nio.file.Files.write(base, Array.empty[Byte])
    def persisted() =
      new String(java.nio.file.Files.readAllBytes(base), "UTF-8").trim
    val params = Map("path" -> root, "bootstrap" -> "none")
    new ChangelogStreamSource(spark, params, meta)
    assert(persisted() == s"${s0.id} 1",
      "a blank base must be re-published, not adopted")
    // the lake moves on; a re-created source reads the persisted base back
    lake.commit(s0.copy(id = s0.id + 1, parentId = s0.id))
    new ChangelogStreamSource(spark, params, meta)
    assert(persisted() == s"${s0.id} 1")
  }

  test("a fenced replayed batch reports replayedSkip=true and commits no " +
    "snapshot (the audit trail after a crash-restart must still see it)") {
    val feedDir = tmp("rsfeed"); val lakeRoot = tmp("rslake")
    BinlogFeedGen.writeFeed(spark, cfg.copy(nEvents = 600), feedDir)
    val batch = spark.read.parquet(feedDir)
    val lake = new GraftLake(lakeRoot, 8)
    lake.init(graft.model.Schemas.targetBase)
    val icfg = IngestConfig(feedDir, lakeRoot, tmp("rscp"), nBuckets = 8)
    CdcIngestJob.applyTableBatch(spark, lake, icfg.specs.head, batch,
      0L, fromPos = None, lineage = "",
      broadcastKeyLimit = icfg.broadcastKeyLimit)
    val tip = lake.latest().get.id
    val m = CdcIngestJob.applyTableBatch(spark, lake, icfg.specs.head, batch,
      0L, fromPos = None, lineage = "",
      broadcastKeyLimit = icfg.broadcastKeyLimit)
    assert(m.replayedSkip)
    assert(lake.latest().get.id == tip, "a fenced batch must not commit")
  }
}
