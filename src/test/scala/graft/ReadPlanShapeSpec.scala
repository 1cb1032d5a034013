package graft

import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, ChangelogStreamSource, IngestConfig}
import graft.table.GraftLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources

/** Plan shapes of the lake's read paths over a two-commit lake:
  *  - `changesBetween` scans only the window commits' added files, and its
  *    lower offset bound's fileIdx conjunct reaches PushedFilters, so
  *    row-group stats skip the pre-window rows of rewritten base files;
  *  - `readKey` scans only the files covering the key's bucket, and the
  *    repo/path equalities reach PushedFilters;
  *  - a changelog micro-batch (`ChangelogStreamSource.getBatch`) is ONE
  *    streaming `LogicalRDD` leaf: the window query compiles behind it, so
  *    the incremental planner never sees its aggregate (StreamingShim). */
class ReadPlanShapeSpec extends SparkSuite {

  /** A 2,000-event feed replayed in two 2-file chunks: snapshots 1 and 2. */
  private lazy val lake: GraftLake = {
    val feed = tmp("feed")
    BinlogFeedGen.writeFeed(spark,
      FeedConfig(nEvents = 2000, nKeys = 150, eventsPerFile = 500), feed)
    CdcIngestJob.replayBatch(spark,
      IngestConfig(feed, tmp("lake"), tmp("cp"), nBuckets = 8), chunkFiles = 2)
    val l = new GraftLake(tmp("lake"), 8)
    assert(l.latest().get.id == 2)
    l
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    PlanShape.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  /** The data files `df` reads, as the manifest names them. */
  private def scanned(df: DataFrame): Set[String] =
    df.inputFiles.map(f => new java.net.URI(f).getPath).toSet

  test("changesBetween scans only the window's added files and pushes the " +
    "fileIdx lower bound") {
    val log = lake.snapshotLog()
    val window = log.find(_.id == 2).get.addedFiles.map(_.path).toSet
    assert(window.nonEmpty && window != lake.latest().get.files.map(_.path).toSet)
    val df = lake.changesBetween(spark, 1, 2)
    assert(scanned(df) == window)
    val lo = log.find(_.id == 1).get.lastOffset.get.fileIdx
    assert(scans(df).nonEmpty)
    scans(df).foreach { s =>
      assert(PlanShape.pushes(s, sources.GreaterThanOrEqual("_offset.fileIdx", lo)),
        s.metadata("PushedFilters"))
    }
  }

  test("readKey scans only the files covering the key's bucket and pushes " +
    "the repo/path equalities") {
    val snap = lake.latest().get
    val key = lake.read(spark, snap).select("repo", "path").head()
    val (repo, path) = (key.getString(0), key.getString(1))
    val b = GraftLake.bucketOf(repo, path, snap.nBuckets)
    val covering = snap.files.filter(_.covers(b)).map(_.path).toSet
    assert(covering.nonEmpty && covering.size < snap.files.size)
    val df = lake.readKey(spark, snap, repo, path)
    assert(scanned(df) == covering)
    assert(scans(df).nonEmpty)
    scans(df).foreach { s =>
      assert(Seq(sources.EqualTo("repo", repo), sources.EqualTo("path", path))
        .forall(PlanShape.pushes(s, _)), s.metadata("PushedFilters"))
    }
    assert(df.count() == 1)
  }

  test("a changelog micro-batch is one streaming LogicalRDD leaf") {
    val src = new ChangelogStreamSource(spark, Map("path" -> lake.root))
    val batch = src.getBatch(Some(LongOffset(1)), LongOffset(2))
    val plan = batch.queryExecution.logical
    assert(plan.isInstanceOf[LogicalRDD] && plan.isStreaming, plan)
    assert(batch.isStreaming)
  }
}
