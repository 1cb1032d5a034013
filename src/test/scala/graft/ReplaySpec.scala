package graft

import graft.feed.{BinlogFeedGen, ReplayOracle}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, IngestConfig}
import graft.table.GraftLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The north rule's core check: full replay of the change feed reproduces
  * the oracle's final table state exactly, row-by-row, including
  * sha256(content) equality. */
class ReplaySpec extends SparkSuite {

  val cfg: FeedConfig = FeedConfig(
    nEvents = 4000, nKeys = 300, eventsPerFile = 500,
    noopFrac = 0.06, decoyFrac = 0.03, dupTailFrac = 0.2)

  def assertMatchesOracle(lakeRoot: String, feedCfg: FeedConfig,
      nBuckets: Int): Unit = {
    val lake = new GraftLake(lakeRoot, nBuckets)
    val snap = lake.latest().get
    val got = lake.read(spark, snap)
      .withColumn("sha", sha2(col("content"), 256))
      .orderBy("repo", "path")
      .collect()
    val want = ReplayOracle.finalState(feedCfg)
    assert(got.length == want.length,
      s"row count ${got.length} != oracle ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getAs[String]("repo") == w.repo && g.getAs[String]("path") == w.path,
        s"key mismatch: ${g.getAs[String]("repo")}/${g.getAs[String]("path")} vs ${w.repo}/${w.path}")
      assert(g.getAs[String]("commit") == w.commit, s"commit mismatch at ${w.repo}/${w.path}")
      assert(g.getAs[String]("lang") == w.lang)
      assert(g.getAs[String]("content") == w.content, s"content mismatch at ${w.repo}/${w.path}")
      assert(g.getAs[String]("sha") == ReplayOracle.sha256Hex(w.content),
        s"sha256 mismatch at ${w.repo}/${w.path}")
      val off = g.getAs[org.apache.spark.sql.Row]("_offset")
      assert((off.getLong(0), off.getLong(1), off.getLong(2)) ==
        ((w.offsetFileIdx, w.offsetPos, w.offsetRowIdx)),
        s"offset mismatch at ${w.repo}/${w.path}")
    }
  }

  test("batch replay reproduces the oracle state (sha256 row-by-row)") {
    val feedDir = tmp("feed1"); val lakeRoot = tmp("lake1")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    // the adaptive-scan-split window (r06): replayBatch may widen
    // spark.sql.files.maxPartitionBytes for its own duration, but must
    // restore the session's value on every exit path
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val prevSplit = spark.conf.get(splitKey)
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp1"), nBuckets = 8))
    assert(spark.conf.get(splitKey) == prevSplit,
      "replayBatch must restore the session scan-split setting")
    assert(m.applied > 0)
    assertMatchesOracle(lakeRoot, cfg, nBuckets = 8)
  }

  test("streaming replay (AvailableNow microbatches) reproduces the same state") {
    val feedDir = tmp("feed2"); val lakeRoot = tmp("lake2")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp2"), nBuckets = 8,
      maxFilesPerTrigger = 2))
    q.awaitTermination()
    assertMatchesOracle(lakeRoot, cfg, nBuckets = 8)
  }

  test("a different bucket count and key skew produce the identical table") {
    val feedDir = tmp("feed3"); val lakeRoot = tmp("lake3")
    BinlogFeedGen.writeFeed(spark, cfg.copy(skew = 0.5), feedDir)
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp3"), nBuckets = 4))
    assert(m.applied > 0)
    assertMatchesOracle(lakeRoot, cfg.copy(skew = 0.5), nBuckets = 4)
  }

  test("over-limit batches take the direct shuffled LWW path, same table") {
    // broadcastKeyLimit=0 forces the no-broadcast merge shape every batch —
    // the plan a 10^8-key one-shot replay must take
    val feedDir = tmp("feed4"); val lakeRoot = tmp("lake4")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp4"), nBuckets = 8, broadcastKeyLimit = 0))
    assert(m.applied > 0)
    assertMatchesOracle(lakeRoot, cfg, nBuckets = 8)
  }

  test("chunked replay (bounded batches) reproduces the same state") {
    val feedDir = tmp("feed5"); val lakeRoot = tmp("lake5")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp5"), nBuckets = 8), chunkFiles = 3)
    assert(m != null)
    assertMatchesOracle(lakeRoot, cfg, nBuckets = 8)
  }
}
