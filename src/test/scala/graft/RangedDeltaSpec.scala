package graft

import graft.feed.{BinlogFeedGen, ReplayOracle}
import graft.feed.BinlogFeedGen.FeedConfig
import graft.merge.MergeApply
import graft.stream.{CdcIngestJob, IngestConfig}
import graft.table.GraftLake
import graft.table.GraftLake.FileEntry
import org.apache.spark.sql.functions._

/** Bucket-RANGED delta files (round 4): past 64 buckets a per-bucket delta
  * write costs O(nBuckets) files per microbatch — 4096+ tiny files per ~1s
  * commit at the north rule's bucket counts. Deltas now land as contiguous
  * bucket-range files (width = GraftLake.deltaRangeWidth(nBuckets)), so
  * per-commit file count is O(nBuckets/width) while base files stay
  * per-bucket (fold units and read pruning keep bucket granularity) and
  * compaction folds whole ranges so file removal stays atomic. */
class RangedDeltaSpec extends SparkSuite {

  test("deltaRangeWidth: 1 below 64 buckets, then scales so per-commit " +
    "dirs stay <= 64 at ANY bucket count (round-4 verdict #1: no fold cap)") {
    assert(GraftLake.deltaRangeWidth(8) == 1)
    assert(GraftLake.deltaRangeWidth(64) == 1)
    assert(GraftLake.deltaRangeWidth(256) == 4)
    assert(GraftLake.deltaRangeWidth(4096) == 64)
    assert(GraftLake.deltaRangeWidth(65536) == 1024)
    // the invariant itself: dirs-per-commit bounded everywhere
    Seq(8, 64, 256, 4096, 65536, 1 << 20).foreach { nb =>
      assert(nb / GraftLake.deltaRangeWidth(nb) <= 64, s"nBuckets=$nb")
    }
  }

  test("splitWidth: close to the fold budget, output count <= 64, " +
    "always makes progress") {
    assert(MergeApply.splitWidth(64, 16) == 16)    // 4 outputs
    assert(MergeApply.splitWidth(1024, 16) == 16)  // 64 outputs
    assert(MergeApply.splitWidth(16384, 16) == 256) // count bound wins
    assert(MergeApply.splitWidth(8, 16) == 4)      // progress: < span
    Seq((64, 16), (1024, 16), (16384, 16), (1 << 20, 16)).foreach {
      case (span, b) =>
        val w = MergeApply.splitWidth(span, b)
        assert(span / w <= 64 && w < span, s"span=$span budget=$b width=$w")
    }
  }

  test("256-bucket stream writes O(nBuckets/width) delta files per commit; " +
    "range folds fire; final state stays sha-exact") {
    val cfg = FeedConfig(nEvents = 12000, nKeys = 4000, eventsPerFile = 1200,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("feed"); val lakeRoot = tmp("lake")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp"), nBuckets = 256, maxFilesPerTrigger = 1))
    q.awaitTermination()

    val lake = new GraftLake(lakeRoot, 256)
    val snap = lake.latest().get
    val width = GraftLake.deltaRangeWidth(256)
    val (deltas, bases) = snap.files.partition(_.delta)
    // with 4000 keys every batch touches ~all 256 buckets — per-commit
    // delta file count must be the RANGE count, not the bucket count
    deltas.foreach { f =>
      assert(f.hi - f.bucket + 1 == width, s"delta $f not width-$width")
      assert(f.bucket % width == 0, s"delta $f range not aligned")
    }
    assert(bases.forall(f => f.hi == f.bucket), "base files must be per-bucket")
    // per-commit delta file count is bounded by the RANGE count
    deltas.groupBy(_.path.split("/commit-")(1).takeWhile(_ != '-'))
      .foreach { case (bid, fs) =>
        assert(fs.size <= 256 / width,
          s"commit $bid wrote ${fs.size} delta files > ${256 / width} ranges")
      }
    // lineage (snapshot metrics; 10 commits, inside the default
    // expireKeep): no applying commit may have added more delta files than
    // nBuckets/width (the whole point), despite touching ~256 buckets
    val ms = lake.snapshotLog().map(_.metrics)
      .filter(_.getOrElse("rowsWritten", 0L) > 0)
    assert(ms.forall(_("affectedBuckets") > 200),
      "fixture must touch ~all buckets per batch for the bound to bite")
    assert(ms.nonEmpty && ms.exists(_("compactedBuckets") > 0),
      "range compaction never fired")

    // exactness: merge-on-read across ranged deltas + range folds
    val got = lake.read(spark, snap)
      .withColumn("sha", sha2(col("content"), 256))
      .orderBy("repo", "path").collect()
    val want = ReplayOracle.finalState(cfg)
    assert(got.length == want.length, s"rows ${got.length} != oracle ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getAs[String]("repo") == w.repo && g.getAs[String]("path") == w.path)
      assert(g.getAs[String]("sha") == ReplayOracle.sha256Hex(w.content))
    }

    // bucket-subset read slices stray rows out of range files: one bucket's
    // read == the full read restricted to keys hashing to that bucket
    val b = snap.files.filter(_.delta).head.bucket + 1 // inside a range
    val sub = lake.read(spark, snap, Some(Set(b)))
      .orderBy("repo", "path").collect()
    val full = lake.read(spark, snap)
      .filter(pmod(hash(col("repo"), col("path")), lit(256)) === b)
      .orderBy("repo", "path").collect()
    assert(sub.map(_.toString).toSeq == full.map(_.toString).toSeq,
      s"bucket-$b subset read drifted from the full read's slice " +
        s"(${sub.length} vs ${full.length} rows)")
  }

  test("4096-bucket stream: per-commit delta files <= 64, wide clusters " +
    "split before folding, folds stay within the bucket budget, final " +
    "state sha-exact (round-4 verdict #1)") {
    val cfg = FeedConfig(nEvents = 12000, nKeys = 4000, eventsPerFile = 1500,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("feed4k"); val lakeRoot = tmp("lake4k")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("cp4k"), nBuckets = 4096, maxFilesPerTrigger = 1))
    q.awaitTermination()

    val lake = new GraftLake(lakeRoot, 4096)
    val snap = lake.latest().get
    val width = GraftLake.deltaRangeWidth(4096)
    assert(width == 64)
    val log = lake.snapshotLog().filter(_.batchId >= 0)
    // Jackson erases Map[String, Long] value types to Integer for small
    // numbers — read via Number
    def metric(s: GraftLake.Snapshot, k: String): Long =
      s.metrics.asInstanceOf[Map[String, Any]].get(k)
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    // THE round-5 pin: no commit ever added more than 64 batch delta
    // files (width-64 ranges), more than 64 split outputs, or folded more
    // than the 16-bucket budget — bounded commit cost at 4096 buckets
    log.foreach { s =>
      val batchDeltas = s.added.filter(f => f.delta && f.hi - f.bucket + 1 == width)
      assert(batchDeltas.size <= 4096 / width,
        s"snap ${s.id}: ${batchDeltas.size} wide delta files > ${4096 / width}")
      assert(s.added.size <= 64 + 64 + 16,
        s"snap ${s.id} added ${s.added.size} files — unbounded commit")
      assert(metric(s, "compactedBuckets") <= 16,
        s"snap ${s.id} folded ${metric(s, "compactedBuckets")} buckets > budget")
    }
    assert(log.exists(s => metric(s, "splitBuckets") > 0),
      "the wide-cluster split tier never fired")
    assert(log.exists(s => metric(s, "compactedBuckets") > 0),
      "post-split folds never fired")
    // split outputs are fold-unit-width deltas
    assert(snap.files.filter(_.delta).forall(f =>
      Set(1, 16, width).contains(f.hi - f.bucket + 1)),
      s"unexpected delta widths: ${snap.files.filter(_.delta).map(f => f.hi - f.bucket + 1).distinct}")

    // exactness across batch deltas + splits + folds
    val got = lake.read(spark, snap)
      .withColumn("sha", sha2(col("content"), 256))
      .orderBy("repo", "path").collect()
    val want = ReplayOracle.finalState(cfg)
    assert(got.length == want.length, s"rows ${got.length} != oracle ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.getAs[String]("repo") == w.repo && g.getAs[String]("path") == w.path)
      assert(g.getAs[String]("sha") == ReplayOracle.sha256Hex(w.content))
    }
  }

  test("compactionPlan folds whole clusters (overlap closure), worst debt " +
    "first within the bucket budget; budget-exceeding clusters SPLIT") {
    def d(lo: Int, hi: Int, rows: Long) =
      FileEntry(s"d-$lo-$hi", lo, 0, rows, delta = true, bucketHi = hi)
    def b(bk: Int, rows: Long) = FileEntry(s"b-$bk", bk, 0, rows)
    // two width-4 ranges with debt, one without; a legacy width-1 delta
    // overlapping the due range must pull nothing extra (it IS inside)
    val files = Seq(
      b(0, 100), b(1, 100), b(2, 100), b(3, 100), d(0, 3, 5000), d(2, 2, 10),
      b(4, 100), b(5, 100), b(6, 100), b(7, 100), d(4, 7, 900),
      b(8, 100), b(9, 100), b(10, 100), b(11, 100), d(8, 11, 10))
    val p1 = MergeApply.compactionPlan(files, compactFactor = 1.0,
      maxDeltaFiles = 100, maxBuckets = 6)
    // worst cluster [0,3] (5010 rows incl. the width-1 delta) fits; [4,7]
    // (900 > 400 base) would fit a 8-budget but not the remaining 2;
    // [8,11] is under factor — not due at all
    assert(p1 == MergeApply.CompactionPlan(Set(0, 1, 2, 3), None)(6), s"got $p1")
    // a stray width-1 delta OUTSIDE the picked range with its own debt:
    // budget admits it independently
    val p2 = MergeApply.compactionPlan(files :+ d(12, 12, 999),
      compactFactor = 1.0, maxDeltaFiles = 100, maxBuckets = 6)
    assert(p2.fold == Set(0, 1, 2, 3, 12) && p2.split.isEmpty, s"got $p2")
    // a file WIDER than the budget must not force a budget-blowing fold:
    // its group SPLITS instead, while narrow debt in the same span still
    // folds — the tiers don't block each other (round-4 verdict #1; the
    // old law folded the whole 8-bucket closure under a 1-bucket budget)
    val mixed = Seq(b(0, 1), d(0, 7, 50), d(3, 3, 5000))
    val p3 = MergeApply.compactionPlan(mixed, compactFactor = 1.0,
      maxDeltaFiles = 100, maxBuckets = 1)
    assert(p3 == MergeApply.CompactionPlan(Set(3), Some((0, 7)))(1), s"got $p3")
    // the plan carries the budget its split and file-list delta run under
    assert(p3.foldBudget == 1 && p1.foldBudget == 6)
    // ...and the split consumes ONLY the wide file (re-consuming narrow
    // files would rewrite them per commit — quadratic write amplification)
    assert(MergeApply.splitInput(mixed, (0, 7), 1).map(_.path) == Seq("d-0-7"))
    // at most ONE split per commit — worst debt first — while narrow due
    // clusters still fold within the budget alongside it
    val two = Seq(
      b(0, 1), d(0, 7, 50), d(3, 3, 5000),
      b(16, 1), d(16, 23, 9000),
      b(32, 1), d(32, 32, 10))
    val p4 = MergeApply.compactionPlan(two, compactFactor = 1.0,
      maxDeltaFiles = 100, maxBuckets = 1)
    assert(p4 == MergeApply.CompactionPlan(Set(3), Some((16, 23)))(1), s"got $p4")
  }
}
