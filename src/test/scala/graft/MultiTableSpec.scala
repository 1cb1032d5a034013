package graft

import graft.feed.{BinlogFeedGen, ReplayOracle}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.model.DdlChange
import graft.stream.{CdcIngestJob, IngestConfig, TableSpec}
import graft.table.GraftLake
import org.apache.spark.sql.functions._

/** Multi-table subscription & routing (D1/F5), the F4 user predicate DSL
  * as an engine feature, and P3 column naming — the reference's per-table
  * config surface (ConfigLoader.java:34-109 watched-table list; per-handler
  * filters ChangeDataFilter.java:42-104; routing
  * SingleDbBinglogActor.java:120-127; naming StrNameConvert.java:24-36). */
class MultiTableSpec extends SparkSuite {

  val cfg: FeedConfig = FeedConfig(nEvents = 4000, nKeys = 250,
    eventsPerFile = 500, noopFrac = 0.06, decoyFrac = 0.3, dupTailFrac = 0.1)

  private def lakeRows(root: String, nBuckets: Int) = {
    val lake = new GraftLake(root, nBuckets)
    lake.read(spark, lake.latest().get)
      .select("repo", "path", "commit", "lang", "content")
      .orderBy("repo", "path").collect().toSeq
  }

  private def assertMatches(got: Seq[org.apache.spark.sql.Row],
      want: Seq[ReplayOracle.OracleRow]): Unit = {
    assert(got.size == want.size, s"rows ${got.size} != oracle ${want.size}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.repo && g.getString(1) == w.path &&
        g.getString(2) == w.commit && g.getString(3) == w.lang &&
        g.getString(4) == w.content,
        s"mismatch at ${w.repo}/${w.path}")
    }
  }

  test("two watched tables route to two lakes, each matching its oracle (D1)") {
    val feedDir = tmp("f1")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val ing = IngestConfig(feedDir, "", tmp("c1"), tables = Seq(
      TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable,
        tmp("lakeA"), nBuckets = 8),
      TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.DecoyTable,
        tmp("lakeB"), nBuckets = 4)))
    val q = CdcIngestJob.runStream(spark, ing.copy(maxFilesPerTrigger = 3))
    q.awaitTermination()
    assertMatches(lakeRows(tmp("lakeA"), 8), ReplayOracle.finalStateFor(cfg))
    assertMatches(lakeRows(tmp("lakeB"), 4),
      ReplayOracle.finalStateFor(cfg, forDecoyTable = true))
  }

  test("kill mid-stream with TWO tables + resume from checkpoint: a batch " +
    "replayed across the D7 barrier is fenced on the lake that committed " +
    "it and applied on the one that did not; both match their oracles") {
    // the multi-table barrier (checkpoint advances only after ALL lakes
    // commit) means a kill can land BETWEEN two lakes' commits of the
    // same batch — the restart then replays a batch one lake has and one
    // lacks; per-lake (lineage, batchId) fences make that exactly-once.
    // Hard kills at two thresholds give the window two chances; state
    // equality against both oracles is the gate either way.
    val feedDir = tmp("f-crash")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val cp = tmp("c-crash")
    def ing = IngestConfig(feedDir, "", cp, maxFilesPerTrigger = 1,
      tables = Seq(
        TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable,
          tmp("lakeCA"), nBuckets = 8),
        TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.DecoyTable,
          tmp("lakeCB"), nBuckets = 4)))
    Seq(2L, 5L).foreach { threshold =>
      val q = CdcIngestJob.runStream(spark, ing)
      var spins = 0
      while (q.isActive && spins < 1200 &&
          new GraftLake(tmp("lakeCA"), 8).latest()
            .forall(_.batchId < threshold)) {
        Thread.sleep(50); spins += 1
      }
      q.stop() // hard kill, possibly between the two lakes' commits
    }
    CdcIngestJob.runStream(spark, ing).awaitTermination()
    assertMatches(lakeRows(tmp("lakeCA"), 8), ReplayOracle.finalStateFor(cfg))
    assertMatches(lakeRows(tmp("lakeCB"), 4),
      ReplayOracle.finalStateFor(cfg, forDecoyTable = true))
  }

  test("F4: per-table predicate DSL filters events before merge") {
    val feedDir = tmp("f2")
    val c2 = cfg.copy(decoyFrac = 0.0, dupTailFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, c2, feedDir)
    // the reference DSL form `where new.lang = 'scala'` (with DELETE's
    // before-image fallback) as one Catalyst boolean expression
    val lakeF = tmp("lakeF")
    val ing = IngestConfig(feedDir, lakeF, tmp("c2"),
      tables = Seq(TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable,
        lakeF, nBuckets = 8,
        filterSql = Some("coalesce(after.lang, before.lang) = 'scala'"))))
    val q = CdcIngestJob.runStream(spark, ing)
    q.awaitTermination()
    val want = ReplayOracle.finalStateFor(c2,
      eventFilter = (_, before, after) =>
        after.orElse(before).exists(_.lang == "scala"))
    assert(want.nonEmpty && want.forall(_.lang == "scala"))
    assertMatches(lakeRows(lakeF, 8), want)
    // cross-check the filter actually excluded the other languages
    val full = ReplayOracle.finalStateFor(c2)
    assert(full.exists(_.lang != "scala") && want.size < full.size)
  }

  test("P3: snake_case DDL columns land camelCased, values intact") {
    val feedDir = tmp("f3")
    val c3 = cfg.copy(nEvents = 2000, decoyFrac = 0.0, dupTailFrac = 0.0,
      ddlAt = Map(600L -> DdlChange("add_column", "byte_size", "", "bigint")))
    BinlogFeedGen.writeFeed(spark, c3, feedDir)
    val ing = IngestConfig(feedDir, "", tmp("c3"), tables = Seq(
      TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable,
        tmp("lakeP"), nBuckets = 4, camelize = true)))
    val q = CdcIngestJob.runStream(spark, ing)
    q.awaitTermination()
    val lake = new GraftLake(tmp("lakeP"), 4)
    val snap = lake.latest().get
    val cur = lake.currentSchema(snap)
    assert(cur.fieldNames.contains("byteSize") &&
      !cur.fieldNames.contains("byte_size"))
    val got = lake.read(spark, snap)
      .select("repo", "path", "byteSize").orderBy("repo", "path").collect()
    val want = ReplayOracle.finalStateFor(c3)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      val v = if (g.isNullAt(2)) None else Some(g.getLong(2))
      assert(v == w.extras.get("byte_size").map(_.toLong),
        s"byteSize mismatch at ${w.repo}/${w.path}")
    }
    assert(want.exists(_.extras.contains("byte_size")),
      "fixture must exercise the evolved column")
  }
}
