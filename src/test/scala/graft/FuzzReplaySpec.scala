package graft

import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, IngestConfig}

/** Randomized differential replay: the pinned ReplaySpec fixtures cover a
  * handful of hand-chosen configs; this spec drives SEEDED-random points
  * of the whole generator space (skew, no-op/decoy/dup fractions, file
  * sizing, bucket counts, batch vs microbatch, add/widen evolution)
  * through the engine and asserts row-for-row equality — content sha256
  * included — against the offset-order fold oracle. Seeds are fixed, so
  * failures reproduce; the point is coverage of INTERACTIONS (e.g. skewed
  * hot keys × duplicate tail files × mid-feed DDL × 2 buckets) that no
  * single pinned fixture exercises. */
class FuzzReplaySpec extends SparkSuite {

  private def randomCfg(rnd: scala.util.Random): FeedConfig = {
    val nEvents = 1500L + rnd.nextInt(2500)
    FeedConfig(
      nEvents = nEvents,
      nKeys = 80 + rnd.nextInt(350),
      seed = rnd.nextLong(),
      eventsPerFile = 200 + rnd.nextInt(600),
      skew = rnd.nextDouble() * 0.5,
      nHotKeys = 2 + rnd.nextInt(6),
      noopFrac = rnd.nextDouble() * 0.35,
      decoyFrac = rnd.nextDouble() * 0.10,
      dupTailFrac = rnd.nextDouble() * 0.40,
      ddlAt = if (rnd.nextBoolean()) BinlogFeedGen.evolutionDdls(nEvents)
              else Map.empty,
      contentChars = 80 + rnd.nextInt(240))
  }

  private def assertMatchesOracle(lakeRoot: String, cfg: FeedConfig,
      nBuckets: Int, label: String, fullDdl: Boolean = false): Unit =
    OracleAsserts.assertMatchesOracle(spark, lakeRoot, cfg, nBuckets, label,
      fullDdl)

  test("6 seeded-random generator-space points replay to oracle equality " +
    "(4 batch, 2 microbatched), random bucket counts") {
    val rnd = new scala.util.Random(fuzzSeed(20260819L))
    (0 until 6).foreach { i =>
      val cfg = randomCfg(rnd)
      val nBuckets = 1 << (1 + rnd.nextInt(5)) // 2..32
      val streamMode = i >= 4
      val label = s"fuzz#$i(seed=${cfg.seed},events=${cfg.nEvents}," +
        s"keys=${cfg.nKeys},skew=${"%.2f".format(cfg.skew)}," +
        s"dup=${"%.2f".format(cfg.dupTailFrac)},ddl=${cfg.ddlAt.nonEmpty}," +
        s"buckets=$nBuckets,stream=$streamMode)"
      val feedDir = tmp(s"fz-feed$i"); val lakeRoot = tmp(s"fz-lake$i")
      BinlogFeedGen.writeFeed(spark, cfg, feedDir)
      val icfg = IngestConfig(feedDir, lakeRoot, tmp(s"fz-cp$i"),
        nBuckets = nBuckets,
        maxFilesPerTrigger = 1 + rnd.nextInt(4))
      if (streamMode) CdcIngestJob.runStream(spark, icfg).awaitTermination()
      else CdcIngestJob.replayBatch(spark, icfg)
      assertMatchesOracle(lakeRoot, cfg, nBuckets, label)
    }
  }

  test("4 seeded-random FULL-DDL points (add/widen/rename/drop at random " +
    "offsets, incl. drop-before-add) replay to oracle equality") {
    val rnd = new scala.util.Random(fuzzSeed(5202608L))
    (0 until 4).foreach { i =>
      val base = randomCfg(rnd)
      // four DISTINCT random DDL positions; add < widen < rename is a
      // semantic requirement (the column must exist to widen/rename), the
      // lang drop lands in a random slot among them — including BEFORE the
      // add, an interaction the pinned SchemaEvolutionSpec e2e (fixed
      // 2/5, 11/20, 7/10, 17/20 fractions) never exercises
      val positions = {
        val s = scala.collection.mutable.SortedSet.empty[Long]
        while (s.size < 4) s += 1L + Math.floorMod(rnd.nextLong(), base.nEvents - 2)
        s.toVector
      }
      val dropSlot = rnd.nextInt(4)
      val Vector(pAdd, pWiden, pRename) =
        positions.zipWithIndex.collect { case (p, j) if j != dropSlot => p }
      val cfg = base.copy(ddlAt = Map(
        pAdd -> graft.model.DdlChange("add_column", "size", "", "int"),
        pWiden -> graft.model.DdlChange("widen_type", "size", "int", "bigint"),
        pRename -> graft.model.DdlChange("rename_column", "size", "", "bytes"),
        positions(dropSlot) -> graft.model.DdlChange("drop_column", "lang", "", "")))
      val nBuckets = 1 << (1 + rnd.nextInt(5))
      val streamMode = i >= 2
      val label = s"fullddl#$i(seed=${cfg.seed},events=${cfg.nEvents}," +
        s"ddl=[$pAdd,$pWiden,$pRename,drop@${positions(dropSlot)}]," +
        s"buckets=$nBuckets,stream=$streamMode)"
      val feedDir = tmp(s"fd-feed$i"); val lakeRoot = tmp(s"fd-lake$i")
      BinlogFeedGen.writeFeed(spark, cfg, feedDir)
      val icfg = IngestConfig(feedDir, lakeRoot, tmp(s"fd-cp$i"),
        nBuckets = nBuckets,
        maxFilesPerTrigger = 1 + rnd.nextInt(4),
        tables = Seq(graft.stream.TableSpec(
          BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable, lakeRoot,
          nBuckets = nBuckets, compactFactor = 0.5, maxDeltaFiles = 3)))
      if (streamMode) CdcIngestJob.runStream(spark, icfg).awaitTermination()
      else CdcIngestJob.replayBatch(spark, icfg)
      assertMatchesOracle(lakeRoot, cfg, nBuckets, label, fullDdl = true)
    }
  }
}
