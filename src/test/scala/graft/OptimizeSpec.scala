package graft

import graft.cli.Describe
import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.merge.MergeApply
import graft.model.DdlChange
import graft.stream.{CdcIngestJob, IngestConfig, TableSpec}
import graft.table.GraftLake
import org.apache.spark.sql.Row

/** Offline full compaction (MergeApply.optimize — the `OPTIMIZE`
  * maintenance verb): drains ALL delta debt in bounded commits, leaves the
  * exactly-once fence / resume metadata untouched, writes key-clustered
  * base files, and reports zero row changes through the changelog. */
class OptimizeSpec extends SparkSuite {

  private def state(lake: GraftLake, s: GraftLake.Snapshot): Seq[(String, String, String, Boolean)] =
    lake.read(spark, s, includeTombstones = true)
      .select("repo", "path", "content", "_deleted").collect()
      .map((r: Row) => (r.getString(0), r.getString(1),
        Option(r.getString(2)).getOrElse(""), r.getBoolean(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  /** Ingest a feed with the streaming fold suppressed, so every
    * microbatch's delta files survive as visible debt. */
  private def debtLake(feedDir: String, lakeRoot: String, nBuckets: Int,
      cfg: FeedConfig): GraftLake = {
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, lakeRoot + "/_cp", nBuckets = nBuckets,
      maxFilesPerTrigger = 1,
      tables = Seq(TableSpec(
        BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot,
        nBuckets = nBuckets, compactFactor = 1e9, maxDeltaFiles = 1000000))))
    q.awaitTermination()
    new GraftLake(lakeRoot, nBuckets)
  }

  test("optimize drains all delta debt in budget-bounded commits and " +
    "preserves state, fence metadata, changelog and point reads") {
    val n = 4000L
    val lake = debtLake(tmp("ofeed"), tmp("olake"), nBuckets = 8,
      FeedConfig(nEvents = n, nKeys = 300, eventsPerFile = 400,
        dupTailFrac = 0.2,
        ddlAt = Map(
          (n * 2 / 5) -> DdlChange("add_column", "size", "", "int"),
          (n * 7 / 10) -> DdlChange("rename_column", "size", "", "bytes"))))
    val before = lake.latest().get
    assert(before.files.exists(_.delta), "fixture must carry delta debt")
    val want = state(lake, before)

    val budget = 4
    val r = MergeApply.optimize(spark, lake, maxBucketsPerCommit = budget)
    val after = lake.latest().get

    // all debt drained, in more than one commit (8 due buckets, budget 4)
    assert(r.commits >= 2, s"expected >= 2 bounded commits, got ${r.commits}")
    assert(after.id == before.id + r.commits)
    assert(after.files.forall(f => !f.delta && f.hi == f.bucket),
      "only per-bucket base files may remain")
    assert(Describe.debtRanges(after).isEmpty)

    // every optimize commit folded at most `budget` buckets
    lake.snapshotLog().filter(_.id > before.id).foreach { s =>
      assert(s.metrics.getOrElse("compactedBuckets", 0L) <= budget,
        s"commit ${s.id} exceeded the fold budget")
    }

    // state is bit-identical, tombstones included
    assert(state(lake, after) == want)

    // fence / resume metadata untouched: a resumed stream or chained
    // follower continues exactly where it left off
    assert(after.batchId == before.batchId &&
      after.lineage == before.lineage &&
      after.lastOffset == before.lastOffset &&
      after.schemaVersion == before.schemaVersion &&
      after.schemas == before.schemas &&
      after.nBuckets == before.nBuckets)

    // the changelog window over the optimize commits is EMPTY: rows moved
    // between files, none changed (same law as rebucket)
    assert(lake.changesBetween(spark, before.id, after.id).isEmpty)

    // new base files are key-clustered: each file's rows sorted by key
    after.files.foreach { f =>
      val rows = spark.read.parquet(f.path)
        .select("repo", "path").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows == rows.sortBy(identity),
        s"base file ${f.path} must be sorted by (repo, path)")
    }

    // point lookup still resolves (and plans only the key's bucket files)
    val k = want.filterNot(_._4).head
    assert(lake.readKey(spark, after, k._1, k._2).count() == 1)

    // idempotent: a second optimize finds nothing to do
    val r2 = MergeApply.optimize(spark, lake, maxBucketsPerCommit = budget)
    assert(r2.commits == 0 && lake.latest().get.id == after.id)
  }

  test("optimize with a tombstone horizon drops expired tombstones from " +
    "the folds it performs, leaving live rows untouched") {
    val lake = debtLake(tmp("tfeed"), tmp("tlake"), nBuckets = 8,
      FeedConfig(nEvents = 3000, nKeys = 200, eventsPerFile = 500))
    val before = lake.latest().get
    val pre = state(lake, before)
    assert(pre.exists(_._4), "fixture must carry tombstones")

    // horizon past every feed offset = every tombstone is expired (the O3
    // bound says nothing that old can ever be re-delivered)
    val r = MergeApply.optimize(spark, lake, maxBucketsPerCommit = 8,
      tombstoneHorizon = Some(graft.model.Offset(9999L, 0L, 0L)))
    assert(r.commits >= 1)
    val post = state(lake, lake.latest().get)
    assert(!post.exists(_._4), "expired tombstones must be dropped")
    assert(post == pre.filterNot(_._4), "live rows must be untouched")
  }

  test("a double-scheduled optimize loses the commit race cleanly: " +
    "fenced, nothing half-applied, stranded output vacuumed") {
    import java.nio.file.{Files, Paths}
    val lake = debtLake(tmp("rfeed"), tmp("rlake"), nBuckets = 8,
      FeedConfig(nEvents = 2000, nKeys = 150, eventsPerFile = 400))
    val snap = lake.latest().get
    assert(snap.files.exists(_.delta), "fixture must carry delta debt")
    val want = state(lake, snap)

    // writer A: reads the tip and performs its fold work (files written,
    // commit pending) — the documented race window
    val plan = MergeApply.compactionPlan(snap.files, compactFactor = 0.0,
      maxDeltaFiles = 1, maxBuckets = 8)
    val (fold, split) = MergeApply.runPlan(spark, lake, snap, plan,
      snap.batchId, clusterByKey = true)
    val stranded = (fold.files ++ split.files).map(_.path)
    assert(stranded.nonEmpty)

    // writer B — the double-scheduled job — wins the race for snap.id + 1
    val winner = new GraftLake(lake.root, 8)
    assert(MergeApply.optimize(spark, winner, maxBucketsPerCommit = 8)
      .commits >= 1)

    // writer A's commit of the same id fails closed on the publish fence
    val d = MergeApply.fileListDelta(snap, plan, fold, split)
    val ex = intercept[IllegalStateException] {
      lake.commit(snap.copy(
        id = snap.id + 1, parentId = snap.id, files = d.files,
        addedFiles = d.addedFiles, removedPaths = d.removedPaths))
    }
    assert(ex.getMessage.contains("fenced"))

    // nothing half-applied: a fresh handle sees the winner's fully-drained
    // state, rows bit-identical to the pre-race table
    val fresh = new GraftLake(lake.root, 8)
    val after = fresh.latest().get
    assert(after.files.forall(f => !f.delta && f.hi == f.bucket))
    assert(state(fresh, after) == want)

    // the loser's output exists on disk but no snapshot references it;
    // the startup-time vacuum reclaims it
    assert(stranded.forall(p => Files.exists(Paths.get(p))))
    fresh.vacuum()
    assert(stranded.forall(p => !Files.exists(Paths.get(p))),
      "the losing writer's stranded files must be GC'd by vacuum")

    // the losing handle stays usable: a rerun finds nothing to do
    assert(MergeApply.optimize(spark, lake, maxBucketsPerCommit = 8)
      .commits == 0)
  }

  test("optimize splits bucket-range deltas wider than the budget, then " +
    "folds the splits — terminating with per-bucket bases at 256 buckets") {
    val nBuckets = 256 // deltaRangeWidth = 4: deltas land as width-4 ranges
    assert(GraftLake.deltaRangeWidth(nBuckets) == 4)
    val lake = debtLake(tmp("wfeed"), tmp("wlake"), nBuckets,
      FeedConfig(nEvents = 600, nKeys = 6, eventsPerFile = 100))
    val before = lake.latest().get
    assert(before.files.exists(f => f.delta && f.hi - f.bucket + 1 == 4),
      "fixture must carry width-4 range deltas")
    val want = state(lake, before)

    // budget 2 < range width 4: every range must pass through the split
    // tier (L0 -> L1) before its fold fits the budget
    val r = MergeApply.optimize(spark, lake, maxBucketsPerCommit = 2)
    assert(r.splitFiles > 0, "the split tier must have engaged")
    val after = lake.latest().get
    assert(after.files.forall(f => !f.delta && f.hi == f.bucket))
    assert(state(lake, after) == want)
    assert(after.lastOffset == before.lastOffset &&
      after.batchId == before.batchId)
  }

  test("optimize holds the writer lease while it drains — vacuum's fence " +
    "now covers its uncommitted fold output — and releases it on return") {
    // between a fold's data write and its commit the new files are
    // referenced by no snapshot; without a lease a concurrent vacuum (or
    // a restarting stream's startup sweep) would delete them and the
    // commit would publish dangling paths (round-5 fifth review). The
    // probe thread polls liveWriter() for an optimize-held lease across
    // the multi-second drain.
    val lake = debtLake(tmp("olfeed"), tmp("ollake"), nBuckets = 8,
      FeedConfig(nEvents = 2000, nKeys = 200, eventsPerFile = 250,
        dupTailFrac = 0.2))
    assert(lake.latest().get.files.exists(_.delta), "fixture needs debt")
    // read the lease FILES directly: liveWriter() reports only the first
    // holder in sort order, and the just-terminated fixture stream's own
    // lease (a hex lineage UUID, which sorts before "optimize-") may
    // release asynchronously under the probe
    val logDir = new java.io.File(tmp("ollake"), "_graft_log")
    def optimizeLease(): Option[String] =
      Option(logDir.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("lease-")).flatMap { f =>
          val enc = f.getName.stripPrefix("lease-").stripSuffix(".json")
          try Some(new String(
            java.util.Base64.getUrlDecoder.decode(enc), "UTF-8"))
          catch { case _: IllegalArgumentException => None }
        }.find(_.startsWith("optimize-"))
    @volatile var seen: Option[String] = None
    @volatile var running = true
    val probe = new Thread(() => {
      while (running && seen.isEmpty) {
        seen = optimizeLease()
        Thread.sleep(2)
      }
    })
    probe.start()
    try MergeApply.optimize(spark, lake, maxBucketsPerCommit = 4)
    finally { running = false; probe.join() }
    assert(seen.exists(_.startsWith("optimize-")),
      s"the probe must observe optimize's writer lease, saw $seen")
    assert(optimizeLease().isEmpty,
      "optimize must release its lease on return")
  }
}
