package graft

import graft.cli.Describe
import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.model.DdlChange
import graft.stream.{CdcIngestJob, IngestConfig, TableSpec}
import graft.table.GraftLake

/** The `describe` CLI verb's views over a debt-carrying fixture (round-4
  * verdict #8's done-criterion): compaction suppressed so every microbatch
  * leaves its delta files in place, DDLs through the full add / widen /
  * rename / drop surface, a registered + heartbeating client. */
class DescribeSpec extends SparkSuite {

  test("debt ranges, schema history and client rows over a debt fixture") {
    val n = 4000L
    val cfg = FeedConfig(nEvents = n, nKeys = 300, eventsPerFile = 400,
      ddlAt = Map(
        (n * 2 / 5) -> DdlChange("add_column", "size", "", "int"),
        (n * 11 / 20) -> DdlChange("widen_type", "size", "int", "bigint"),
        (n * 7 / 10) -> DdlChange("rename_column", "size", "", "bytes"),
        (n * 17 / 20) -> DdlChange("drop_column", "lang", "", "")))
    val feedDir = tmp("dfeed"); val lakeRoot = tmp("dlake")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    // compaction off → every batch's deltas survive as visible debt
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("dcp"), nBuckets = 8, maxFilesPerTrigger = 1,
      tables = Seq(TableSpec(
        BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot,
        nBuckets = 8, compactFactor = 1e9, maxDeltaFiles = 1000000))))
    q.awaitTermination()
    val lake = new GraftLake(lakeRoot, 8)
    lake.subscribers.registerClient("ops-team")
    val snap = lake.latest().get

    // debt rows: the planner's own units in the planner's own order
    // (worst delta-rows first — the order the budget walk takes them), and
    // they tile the snapshot's delta files exactly (every delta file in
    // exactly one unit)
    val debt = Describe.debtRanges(snap)
    assert(debt.nonEmpty, "fixture must carry delta debt")
    assert(debt.map(_.deltaRows) == debt.map(_.deltaRows).sorted.reverse)
    assert(debt.forall(!_.wide), "nBuckets=8 has no split-tier files")
    val deltas = snap.files.filter(_.delta)
    assert(debt.map(_.files).sum == deltas.size)
    assert(debt.map(_.deltaRows).sum == deltas.map(_.rows).sum)
    // ratios are computed against the bases the range covers
    debt.foreach { r =>
      val want = snap.files.filter(f => !f.delta &&
        f.bucket >= r.lo && f.bucket <= r.hi).map(_.rows).sum
      assert(r.baseRows == want, s"range [${r.lo},${r.hi}] base rows")
    }

    // schema history: v0 has lang and no size; the current version shows
    // the rename alias chain and the drop mask
    val schemas = Describe.schemaLines(snap)
    assert(schemas.size == snap.schemas.size)
    assert(schemas.head.contains("schema v0") &&
      schemas.head.contains("lang:string") && !schemas.head.contains("size"))
    val cur = schemas.find(_.contains("(current)")).get
    assert(cur.contains("bytes:bigint (was size)"), cur)
    assert(!cur.contains("lang"), s"dropped column must be masked: $cur")

    // full view: header first, then schemas, files line, debt, clients
    val lines = Describe.lines(lake, snap)
    assert(lines.head.startsWith(s"lake=$lakeRoot snapshot=${snap.id}"))
    assert(lines.exists(_.startsWith(s"files=${snap.files.size} (bases=")))
    assert(lines.count(_.startsWith("debt range [")) == math.min(debt.size, 10))
    // registration stamps the first heartbeat, so the row reads "N.Ns ago"
    assert(lines.last.startsWith("client ops-team  last heartbeat:"), lines.last)
  }
}
