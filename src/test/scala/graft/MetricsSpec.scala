package graft

import graft.feed.{BinlogFeedGen, FeedReader}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.model.{Offset, Op}
import graft.stream.{CdcIngestJob, IngestConfig, ResumeMode}
import graft.table.GraftLake
import org.apache.spark.sql.functions._

/** Exact accounting of the per-batch lineage metrics the north rule names
  * (events applied, dedup drops, merge latency — plus the engine's
  * eventsIn/noopDrops/ddls). Expected values come from an independent
  * Spark SQL pass over the raw feed (not the engine's keyed scan), so the
  * test fails if the fused planning/winner aggregate miscounts anything. */
class MetricsSpec extends SparkSuite {

  val cfg: FeedConfig = FeedConfig(
    nEvents = 3000, nKeys = 200, eventsPerFile = 500,
    noopFrac = 0.08, decoyFrac = 0.05,
    ddlAt = BinlogFeedGen.evolutionDdls(3000))

  /** Independent tallies over the raw feed: (eventsIn, watchedRows, noops,
    * nDdl, winners). `noops` replicates F3's definition (null-safe image
    * equality ignoring `commit`) with plain SQL, not FeedReader.isNoop. */
  private def expected(feedDir: String): (Long, Long, Long, Long, Long) = {
    val watched = FeedReader.readBatch(spark, feedDir)
      .filter(col("db") === BinlogFeedGen.WatchedDb &&
        col("table") === BinlogFeedGen.WatchedTable)
    val isRow = col("op").isin(Op.rowOps: _*)
    val noop = col("op") === Op.Update &&
      (col("extras").isNull || size(col("extras")) <= 0) && // extras: unprovable
      col("after.repo") <=> col("before.repo") &&
      col("after.path") <=> col("before.path") &&
      col("after.lang") <=> col("before.lang") &&
      col("after.content") <=> col("before.content")
    val r = watched.agg(
      count(lit(1)).as("n"),
      sum(when(isRow, 1L).otherwise(0L)).as("rows"),
      sum(when(isRow && noop, 1L).otherwise(0L)).as("noops"),
      sum(when(col("op") === Op.Ddl, 1L).otherwise(0L)).as("ddl")).collect()(0)
    val winners = watched.filter(isRow && !noop)
      .select(coalesce(col("after.repo"), col("before.repo")).as("repo"),
        coalesce(col("after.path"), col("before.path")).as("path"))
      .distinct().count()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), winners)
  }

  test("first replay: eventsIn/noopDrops/dedupDrops/applied/ddls are exact") {
    val feedDir = tmp("feed"); val lakeRoot = tmp("lake")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val (n, rows, noops, ddl, winners) = expected(feedDir)
    assert(n > 0 && noops > 0 && ddl == 2 && winners > 0)

    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp"), nBuckets = 8))
    assert(m.eventsIn == n, s"eventsIn ${m.eventsIn} != $n")
    assert(m.watchedRows == rows)
    assert(m.noopDrops == noops, s"noopDrops ${m.noopDrops} != $noops")
    assert(m.ddls == ddl)
    // dedup drops = surviving events superseded by a same-key higher offset
    assert(m.dedupDrops == rows - noops - winners,
      s"dedupDrops ${m.dedupDrops} != ${rows - noops - winners}")
    // first commit into an empty lake: applied = every winner row written
    // (including DELETE tombstones)
    assert(m.applied == winners, s"applied ${m.applied} != $winners")
    assert(m.mergeLatencyMs > 0 && m.affectedBuckets > 0 && !m.replayedSkip)
  }

  test("re-delivery accounting: LastPos filters everything; a forced full " +
    "re-replay applies 0 rows and counts every survivor as a dedup drop") {
    val feedDir = tmp("feed2"); val lakeRoot = tmp("lake2")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val (_, rows, noops, _, winners) = expected(feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp2a"), nBuckets = 8))

    // LastPos resume over the fully-applied lake: offset bound drops all
    val m2 = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp2b"), nBuckets = 8))
    assert(m2.eventsIn == 0 && m2.applied == 0)

    // FromPos before the feed start forces every event through the merge
    // again: winners re-selected, but every offset ties the stored one, so
    // nothing newly applies (idempotence made visible in the lineage)
    val m3 = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp2c"), nBuckets = 8,
      resumeMode = ResumeMode.FromPos(Offset(1, 0, 0))))
    assert(m3.eventsIn > 0)
    assert(m3.applied == 0, s"re-replay applied ${m3.applied} rows")
    assert(m3.dedupDrops == rows - noops - winners)
  }

  test("the snapshot record carries the batch's phase timings; the metrics " +
    "verb prints one line per retained snapshot") {
    val feedDir = tmp("feed3"); val lakeRoot = tmp("lake3")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val m = CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp3"), nBuckets = 8))
    val lake = new GraftLake(lakeRoot, 8)
    val rec = lake.latest().get.metrics
    assert(rec("statsMs") == m.statsMs && rec("writeMs") == m.writeMs &&
      rec("compactMs") == m.compactMs &&
      rec("affectedBuckets") == m.affectedBuckets, s"$rec vs $m")
    assert(m.statsMs > 0 && m.writeMs > 0)

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(graft.cli.Main.main(Array("metrics", lakeRoot)))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    val log = lake.snapshotLog()
    assert(lines.size == log.size, lines.mkString("\n"))
    lines.zip(log).foreach { case (l, s) =>
      assert(l.startsWith(s"[metrics] snapshot=${s.id} "), l)
      assert(!l.contains("bucket."), s"per-bucket rows are not scalars: $l")
    }
    Seq(s"statsMs=${m.statsMs}", s"writeMs=${m.writeMs}",
      s"compactMs=${m.compactMs}", s"affectedBuckets=${m.affectedBuckets}",
      s"applied=${m.applied}").foreach { kv =>
      assert(lines.last.split(' ').contains(kv), s"$kv missing: ${lines.last}")
    }
  }
}
