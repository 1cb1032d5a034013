package graft

import graft.feed.{BinlogFeedGen, ReplayOracle}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, ChangelogChain, IngestConfig}
import graft.table.GraftLake
import org.apache.spark.sql.functions._

/** Lake→lake changelog subscription (round-4 verdict #5): a second lake
  * chained off the first through ChangelogChain.sync must reach EXACTLY
  * the state a direct feed replay produces — with exactly-once windows
  * (replayed syncs fence), incremental O(window) consumption, and schema
  * evolution riding through. The reference's subscription fan-out analog
  * (client/akkaSystem/SingleTableBinlogClientActor.java:106-142). */
class ChainedLakeSpec extends SparkSuite {

  private def state(lake: GraftLake): Seq[String] =
    lake.read(spark, lake.latest().get)
      .withColumn("sha", sha2(col("content"), 256))
      .drop("content")
      .orderBy("repo", "path").collect().map(_.toString).toSeq

  test("lake→changelog→second lake equals a direct replay, across " +
    "incremental windows, replays (exactly-once) and schema evolution") {
    val n = 6000L
    val full = FeedConfig(nEvents = n, nKeys = 500, eventsPerFile = 500,
      noopFrac = 0.0, decoyFrac = 0.0,
      ddlAt = BinlogFeedGen.evolutionDdls(n)) // DDLs at 40% / 70%
    val prefix = full.copy(nEvents = n / 3, ddlAt = Map.empty) // pre-DDL
    val feedDir = tmp("feed"); val srcRoot = tmp("src"); val dstRoot = tmp("dst")

    // window 1: bootstrap — src holds the prefix, dst syncs from empty
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp1"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)
    // dst uses a DIFFERENT bucket count: the chain re-buckets per target
    val dst = new GraftLake(dstRoot, 4)
    val r1 = ChangelogChain.sync(spark, src, dst)
    assert(r1.applied && r1.bootstrapped && r1.rowsApplied > 0)
    assert(state(dst) == state(src), "bootstrap sync drifted from source")

    // window 2: the feed grows (with DDL evolution); src streams it in
    // many microbatch commits; ONE sync applies the whole window
    BinlogFeedGen.writeFeed(spark, full, feedDir)
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp2"), nBuckets = 8, maxFilesPerTrigger = 2))
    q.awaitTermination()
    val srcTip = src.latest().get
    assert(srcTip.schemaVersion == 2, "evolution must have applied upstream")
    val r2 = ChangelogChain.sync(spark, src, dst)
    assert(r2.applied && !r2.bootstrapped && r2.srcSnapshot == srcTip.id)

    // exactly-once: a replayed sync (double-fired poll / crash-rerun) is
    // fenced — no new commit, no new data
    val dstSnapAfter = dst.latest().get
    val r3 = ChangelogChain.sync(spark, src, dst)
    assert(!r3.applied && dst.latest().get.id == dstSnapAfter.id,
      "replayed sync must fence, not double-apply")

    // the chained lake equals the source AND the independent oracle,
    // evolved column included
    assert(dst.latest().get.schemaVersion == 2,
      "schema evolution must ride the chain")
    assert(state(dst) == state(src), "chained state drifted from source")
    val got = dst.read(spark, dst.latest().get)
      .select("repo", "path", "commit", "content", "size")
      .orderBy("repo", "path").collect()
    val want = ReplayOracle.finalState(full)
    assert(got.length == want.length, s"rows ${got.length} != oracle ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.repo && g.getString(1) == w.path &&
        g.getString(2) == w.commit && g.getString(3) == w.content)
      assert((if (g.isNullAt(4)) None else Some(g.getLong(4))) == w.size)
    }

    // D10 rides the chain: an unregistered chained consumer is refused
    // once the source gates clients
    src.subscribers.registerClient("downstream-a")
    intercept[IllegalStateException](
      ChangelogChain.sync(spark, src, dst, clientId = Some("mallory")))
    val r4 = ChangelogChain.sync(spark, src, dst, clientId = Some("downstream-a"))
    assert(!r4.applied, "nothing new to apply, but the gate must pass")

    // foreign-destination refusal: bootstrapping INTO a lake that already
    // holds data under another lineage (here: the ingest-populated source
    // itself) must fail closed BEFORE any write — LWW against an unrelated
    // offset space would silently produce a chimera
    val srcIdBefore = src.latest().get.id
    intercept[IllegalStateException](ChangelogChain.sync(spark, dst, src))
    assert(src.latest().get.id == srcIdBefore,
      "refused sync must not commit anything")
  }

  test("a follower beyond the source's retention window is refused with " +
    "the too-old error (reference O3, for subscribers)") {
    val cfg = FeedConfig(nEvents = 3000, nKeys = 200, eventsPerFile = 300,
      noopFrac = 0.0, decoyFrac = 0.0)
    val prefix = cfg.copy(nEvents = 900)
    val feedDir = tmp("feedO3"); val srcRoot = tmp("srcO3"); val dstRoot = tmp("dstO3")
    // window 1: 3 commits land; the follower syncs at that tip
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    var q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cpO3a"), nBuckets = 8, maxFilesPerTrigger = 1))
    q.awaitTermination()
    val src = new GraftLake(srcRoot, 8)
    val dst = new GraftLake(dstRoot, 8)
    val applied = ChangelogChain.sync(spark, src, dst).srcSnapshot
    // the source advances 7 more commits, then trims retention past the
    // follower's position
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cpO3b"), nBuckets = 8, maxFilesPerTrigger = 1))
    q.awaitTermination()
    src.expire(keep = 2)
    assert(src.oldestRetainedId().exists(_ > applied),
      "fixture must trim past the follower's last-applied id")
    val e = intercept[IllegalStateException](ChangelogChain.sync(spark, src, dst))
    assert(e.getMessage.contains("too old"), s"got: ${e.getMessage}")
    assert(dst.latest().get.batchId == applied, "refused sync must not commit")
  }

  test("follow() tails the source log: per-snapshot windows land as they " +
    "commit; a third lake can chain off the second (fan-out depth 2)") {
    val cfg = FeedConfig(nEvents = 3000, nKeys = 200, eventsPerFile = 300,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("feedF"); val srcRoot = tmp("srcF")
    val midRoot = tmp("midF"); val leafRoot = tmp("leafF")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    // src ingests in 10 separate commits
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cpF"), nBuckets = 8, maxFilesPerTrigger = 1))
    q.awaitTermination()
    val src = new GraftLake(srcRoot, 8)
    val mid = new GraftLake(midRoot, 8)
    val leaf = new GraftLake(leafRoot, 4)
    // follow until the destination catches the tip (bounded poll loop)
    val tip = src.latest().get.id
    var rounds = 0
    ChangelogChain.follow(spark, src, mid, pollMs = 10L,
      until = () => rounds > 200 ||
        mid.latest().exists(_.batchId >= tip),
      onSync = _ => rounds += 1)
    assert(mid.latest().get.batchId == tip)
    assert(state(mid) == state(src))
    // depth-2 fan-out: leaf chains off mid's own changelog
    val r = ChangelogChain.sync(spark, mid, leaf)
    assert(r.applied && r.bootstrapped)
    assert(state(leaf) == state(src),
      "depth-2 chained lake drifted from the origin")
  }

  test("chained destination GCs its tombstones: source winners are " +
    "offset-monotone per key, so no window can resurrect below them " +
    "(round-5 review)") {
    import graft.model.Offset
    // many keys vs feed length → plenty of keys END deleted, and their
    // tombstones ride every window into the destination. Without a GC
    // horizon a delete-heavy subscription accretes tombstones forever —
    // the destination never sees a feed-retention bound, but it does not
    // need one: the source's per-key winner offsets are monotone.
    val full = FeedConfig(nEvents = 6000, nKeys = 1000, eventsPerFile = 500,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("gfeed"); val srcRoot = tmp("gsrc"); val dstRoot = tmp("gdst")
    def grow(events: Long, cp: String): Unit = {
      BinlogFeedGen.writeFeed(spark, full.copy(nEvents = events), feedDir)
      CdcIngestJob.replayBatch(spark, IngestConfig(
        feedDir, srcRoot, tmp(cp), nBuckets = 8))
    }
    val src = new GraftLake(srcRoot, 8)
    val dst = new GraftLake(dstRoot, 4)
    // aggressive destination folds: every due bucket folds on every sync
    def syncAgg() = ChangelogChain.sync(spark, src, dst,
      compactFactor = 0.0, maxDeltaFiles = 1, maxCompactBuckets = 64)
    def tombsBelow(h: Offset): Long =
      dst.read(spark, dst.latest().get, includeTombstones = true)
        .filter(col("_deleted") &&
          Offset.encExpr(col("_offset")) < lit(Offset.encode(h)))
        .count()

    grow(2000, "gc1"); syncAgg() // bootstrap: tombstones land in dst bases
    grow(4000, "gc2"); syncAgg() // window 2: more deletes land as deltas
    val horizon2 = dst.latest().get.lastOffset.get
    assert(tombsBelow(horizon2) > 0,
      "fixture must hold destination tombstones below the applied bound")

    grow(6000, "gc3"); syncAgg() // window 3: the fold runs under horizon2
    assert(tombsBelow(horizon2) == 0,
      "destination folds must GC tombstones below the applied bound")
    // ...without changing anything visible: live state tracks the source
    // exactly (deleted keys stay absent — no resurrection)
    assert(state(dst) == state(src),
      "tombstone GC changed the destination's visible state")
  }

  test("chunked bootstrap sync == one-shot sync row-for-row; a kill " +
    "between chunk commits resumes without re-applying completed chunks " +
    "(round-5 verdict #1)") {
    val full = FeedConfig(nEvents = 3000, nKeys = 400, eventsPerFile = 500,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("cbfeed"); val srcRoot = tmp("cbsrc")
    BinlogFeedGen.writeFeed(spark, full, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cbcp"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)

    // reference: the one-shot bootstrap
    val dst1 = new GraftLake(tmp("cbdst1"), 4)
    ChangelogChain.sync(spark, src, dst1)

    // chunked, "killed" after every chunk commit: 8 src buckets at 3 per
    // chunk = 3 chunks. Each call commits ONE chunk and returns — chunk
    // commits are atomic, so the state a capped call leaves IS the state
    // a mid-bootstrap crash leaves, and the next call is the restart.
    val dst2 = new GraftLake(tmp("cbdst2"), 4)
    var calls = 0
    var rowsTotal = 0L
    while (dst2.latest().forall(_.batchId < 0) && calls < 10) {
      val r = ChangelogChain.sync(spark, src, dst2,
        bootstrapChunkBuckets = 3, maxBootstrapChunksPerCall = 1)
      assert(r.applied && r.bootstrapped)
      rowsTotal += r.rowsApplied
      calls += 1
    }
    assert(calls == 3, s"expected 3 chunk commits, got $calls")
    // no chunk re-applied: total applied rows == the one-shot bootstrap's
    val oneShotRows = ChangelogChain.sync(spark, src,
      { val d = new GraftLake(tmp("cbdst3"), 4); d }).rowsApplied
    assert(rowsTotal == oneShotRows,
      s"chunk resume re-applied rows ($rowsTotal != $oneShotRows)")
    assert(state(dst2) == state(dst1),
      "chunked bootstrap drifted from the one-shot bootstrap")
    assert(state(dst2) == state(src))

    // the completed subscription fences replays and consumes increments
    val tip = dst2.latest().get
    val r = ChangelogChain.sync(spark, src, dst2, bootstrapChunkBuckets = 3)
    assert(!r.applied && dst2.latest().get.id == tip.id,
      "a replayed sync after a chunked bootstrap must fence")
  }

  test("a chunked bootstrap into a fresh destination with the source's " +
    "bucket count lands every file as a base file") {
    val full = FeedConfig(nEvents = 3000, nKeys = 400, eventsPerFile = 500,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("bbfeed"); val srcRoot = tmp("bbsrc")
    BinlogFeedGen.writeFeed(spark, full, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("bbcp"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)
    // every chunk's rows are LWW winners of buckets no earlier chunk
    // wrote: per-key unique files into empty buckets are base files
    val dst = new GraftLake(tmp("bbdst"), 8)
    val r = ChangelogChain.sync(spark, src, dst, bootstrapChunkBuckets = 3)
    assert(r.applied && r.bootstrapped)
    val snap = dst.latest().get
    assert(snap.metrics("bootstrapChunks") == 3 && snap.batchId == r.srcSnapshot)
    assert(snap.files.nonEmpty && snap.files.forall(!_.delta),
      s"bootstrap left delta files: ${snap.files.filter(_.delta)}")
    assert(state(dst) == state(src))
  }
}
