package graft

import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, IngestConfig}
import graft.table.GraftLake
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Storage-layer suite (R1 retention + the crash-between-write-and-commit
  * story — the reference's trickiest storage behavior,
  * server/infoPersistent/BinlogDataStorageWithLevelDB.java:291-352): orphan
  * data files from crashed commits are invisible to readers and collected
  * by expiry; expired snapshots stop resolving; commit ids are fenced. */
class GraftLakeSpec extends SparkSuite {

  val cfg: FeedConfig = FeedConfig(nEvents = 2000, nKeys = 150,
    eventsPerFile = 200, decoyFrac = 0.0)

  private def buildLake(lakeRoot: String, cp: String): GraftLake = {
    val feedDir = tmp("feed-" + lakeRoot.split('/').last)
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    // maxFilesPerTrigger=1 → 10 microbatches → 11 snapshots
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, cp, nBuckets = 4, maxFilesPerTrigger = 1))
    q.awaitTermination()
    new GraftLake(lakeRoot, 4)
  }

  /** Data files holding `snap`'s state, written under `batchId` and
    * referenced by no snapshot — what a crash between write and commit
    * leaves behind. */
  private def writeUncommitted(lake: GraftLake, snap: GraftLake.Snapshot,
      batchId: Long): Seq[GraftLake.FileEntry] =
    lake.writeData(lake.read(spark, snap, includeTombstones = true),
      lake.currentSchema(snap), snap.schemaVersion, batchId, delta = true)

  private def snapshotFiles(root: String): Seq[String] =
    Files.list(Paths.get(root, "_graft_log")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("snapshot-")).toSeq.sorted

  test("crashed commit: orphan data files are invisible and swept by vacuum") {
    val lakeRoot = tmp("l1")
    val lake = buildLake(lakeRoot, tmp("c1"))
    val snap = lake.latest().get
    val before = lake.read(spark, snap).orderBy("repo", "path").collect().toSeq

    // simulate a crash between writeData and commit: data files land,
    // no snapshot references them
    val orphans = writeUncommitted(lake, snap, batchId = 9999)
    assert(orphans.nonEmpty && orphans.forall(f => Files.exists(Paths.get(f.path))))

    // readers resolve only snapshot-referenced files — identical result
    val after = lake.read(spark, lake.latest().get)
      .orderBy("repo", "path").collect().toSeq
    assert(after == before, "orphans must be invisible to readers")

    // per-commit retention is incremental (never lists the data dir) and
    // so by design does NOT see orphans...
    lake.expire(keep = 2)
    assert(snapshotFiles(lakeRoot).size == 2)
    assert(orphans.forall(f => Files.exists(Paths.get(f.path))),
      "incremental expire must not pay a full data-dir listing")
    // ...the startup-time vacuum (runStream runs it once per process) is
    // what sweeps them
    lake.vacuum()
    assert(orphans.forall(f => !Files.exists(Paths.get(f.path))),
      "orphaned data files must be GC'd by vacuum")

    // the surviving snapshot still reads completely
    val finalRows = lake.read(spark, lake.latest().get)
      .orderBy("repo", "path").collect().toSeq
    assert(finalRows == before)
  }

  test("retention trims data files recorded as removed by dropped " +
    "snapshots, and a cold restart reconstructs the incremental manifest " +
    "chain exactly") {
    val lakeRoot = tmp("l-incr")
    val lake = buildLake(lakeRoot, tmp("c-incr"))
    val snap = lake.latest().get
    val before = lake.read(spark, snap).orderBy("repo", "path").collect().toSeq
    // compactions during the stream recorded removedPaths in snapshots;
    // dropping those snapshots deletes exactly those files
    val allParquet = Files.walk(Paths.get(lakeRoot, "data")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val live = snap.files.map(_.path).toSet
    assert(live.subsetOf(allParquet))
    lake.expire(keep = 2)
    val afterParquet = Files.walk(Paths.get(lakeRoot, "data")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
    assert(live.subsetOf(afterParquet), "live files must survive retention")
    assert(afterParquet.size < allParquet.size,
      "retention should drop compacted-away files recorded in removedPaths")
    // COLD restart: a brand-new GraftLake (empty cache) must rebuild the
    // full file list from the anchored incremental chain
    val fresh = new GraftLake(lakeRoot, 4)
    val freshSnap = fresh.latest().get
    assert(freshSnap.id == snap.id)
    assert(freshSnap.files.map(_.path).toSet == live,
      "cold reconstruction must equal the in-memory manifest")
    val rows = fresh.read(spark, freshSnap).orderBy("repo", "path").collect().toSeq
    assert(rows == before)
  }

  test("commit + retention metadata IO is O(touched buckets), independent " +
    "of table file count (round-3 verdict #1)") {
    val fcfg = FeedConfig(nEvents = 8000, nKeys = 4000, eventsPerFile = 200,
      noopFrac = 0.0, decoyFrac = 0.0)
    val feedDir = tmp("feed-io"); val lakeRoot = tmp("l-io")
    BinlogFeedGen.writeFeed(spark, fcfg, feedDir)
    val lake = new GraftLake(lakeRoot, 8)
    lake.init(graft.model.Schemas.targetBase)
    // no compaction, no retention pressure: the table's file count GROWS
    // by ~8 delta files every batch, so late commits run against a table
    // many times larger than early ones
    val spec = graft.stream.TableSpec(BinlogFeedGen.WatchedDb,
      BinlogFeedGen.WatchedTable, lakeRoot, nBuckets = 8,
      compactFactor = 1e9, maxDeltaFiles = Int.MaxValue, expireKeep = 1000)
    val feed = graft.feed.FeedReader.readBatch(spark, feedDir)
    // binlog files are 1-indexed (f00001..f00040)
    val perBatchOps = (1 to 40).map { b =>
      val chunk = feed.filter(col("offset.fileIdx") === b)
      val o0 = lake.metaOps.get()
      CdcIngestJob.applyTableBatch(spark, lake, spec, chunk, batchId = b,
        fromPos = None, lineage = "", broadcastKeyLimit = 4000000L)
      lake.metaOps.get() - o0
    }
    val early = perBatchOps.slice(4, 9).sum / 5.0
    val late = perBatchOps.slice(34, 39).sum / 5.0
    assert(lake.latest().get.files.size > 200,
      s"fixture must grow a many-file table (got ${lake.latest().get.files.size})")
    assert(late <= early + 4,
      s"per-commit metadata ops grew with table size: early=$early late=$late " +
        s"(all: ${perBatchOps.mkString(",")})")
    // and the incremental snapshot JSONs themselves stay O(batch): the
    // last one must be a small fraction of the accumulated manifest
    val snapSizes = Files.list(Paths.get(lakeRoot, "_graft_log")).iterator()
      .asScala.filter(_.getFileName.toString.startsWith("snapshot-"))
      .map(p => p.getFileName.toString -> Files.size(p)).toMap
    val lastSize = snapSizes(f"snapshot-${40}%011d.json")
    val fullSize = lake.latest().get.files.map(_.path.length + 40).sum
    assert(lastSize < fullSize / 4,
      s"late snapshot JSON ($lastSize B) is not incremental vs full manifest (~$fullSize B)")
  }

  test("nBuckets is persisted in the snapshot and a mismatched open is " +
    "rejected (round-3 advice, high)") {
    val lakeRoot = tmp("l-nb")
    val lake = new GraftLake(lakeRoot, 64)
    lake.init(graft.model.Schemas.targetBase)
    assert(GraftLake.storedBuckets(lakeRoot).contains(64))
    // same count: fine
    assert(new GraftLake(lakeRoot, 64).latest().get.nBuckets == 64)
    // mismatched count: hard error (a silent mismatch would split a key's
    // base and delta across buckets and merge-on-read would never pair them)
    val e = intercept[IllegalStateException](
      new GraftLake(lakeRoot, 32).latest())
    assert(e.getMessage.contains("nBuckets"))
    // unknown (probe) open adopts without complaint
    assert(new GraftLake(lakeRoot, 0).latest().get.nBuckets == 64)
  }

  test("expired snapshots stop resolving; retained ones keep their files") {
    val lakeRoot = tmp("l2")
    val lake = buildLake(lakeRoot, tmp("c2"))
    val all = snapshotFiles(lakeRoot)
    assert(all.size > 3, s"fixture should commit several snapshots (got ${all.size})")
    val latestBefore = lake.latest().get
    lake.expire(keep = 3)
    val kept = snapshotFiles(lakeRoot)
    assert(kept.size == 3 && kept == all.takeRight(3))
    // latest unchanged, still fully readable
    val latest = lake.latest().get
    assert(latest.id == latestBefore.id)
    assert(latest.files.forall(f => Files.exists(Paths.get(f.path))))
    assert(lake.read(spark, latest).count() > 0)
  }

  test("lake on a file: URI — the whole commit/read/GC path runs through " +
    "the Hadoop FileSystem API") {
    val feedDir = tmp("feed-uri"); val plain = tmp("l-uri")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val lakeRoot = "file:" + plain
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, "file:" + tmp("c-uri"), nBuckets = 4,
      maxFilesPerTrigger = 3))
    q.awaitTermination()
    val lake = new GraftLake(lakeRoot, 4)
    val snap = lake.latest().get
    assert(snap.batchId >= 1 && snap.files.nonEmpty)
    // manifest paths stay scheme-free (byte-compatible with plain roots)
    assert(snap.files.forall(f => !f.path.startsWith("file:") &&
      Files.exists(Paths.get(f.path))))
    val rows = lake.read(spark, snap).count()
    assert(rows > 0)
    lake.expire(keep = 1)
    assert(lake.read(spark, lake.latest().get).count() == rows)
    assert(snapshotFiles(plain).size == 1)
  }

  test("D10 client registry: unregistered identities are rejected at " +
    "subscription start; no registry = open") {
    val feedDir = tmp("feed-d10"); val lakeRoot = tmp("l-d10")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val lake = new GraftLake(lakeRoot, 4)
    lake.init(graft.model.Schemas.targetBase)
    // open check while no registry exists (single-tenant back-compat)
    lake.subscribers.checkClient("anyone")
    assert(lake.subscribers.registeredClients().isEmpty)
    lake.subscribers.registerClient("alice")
    lake.subscribers.registerClient("bob")
    assert(lake.subscribers.registeredClients() == Set("alice", "bob"))
    lake.subscribers.checkClient("alice") // registered → fine
    intercept[IllegalStateException](lake.subscribers.checkClient("mallory"))
    // the gate fires BEFORE the stream starts (reference rejects at
    // registration, not first delivery)
    intercept[IllegalStateException] {
      CdcIngestJob.runStream(spark, IngestConfig(
        feedDir, lakeRoot, tmp("c-d10a"), nBuckets = 4,
        clientId = Some("mallory")))
    }
    // a registered client streams normally
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c-d10b"), nBuckets = 4,
      maxFilesPerTrigger = 5, clientId = Some("alice")))
    q.awaitTermination()
    assert(lake.read(spark, lake.latest().get).count() > 0)
  }

  test("D10 registry publish has no fail-open window: versions are never " +
    "deleted on the publish path and torn temp state leaves the gate " +
    "closed (round-3 verdict #6)") {
    val lakeRoot = tmp("l-reg")
    val lake = new GraftLake(lakeRoot, 4)
    lake.init(graft.model.Schemas.targetBase)
    lake.subscribers.registerClient("alice")
    // publish is rename-to-NEXT-version: at no point between two
    // registrations is the registry absent (the round-3 delete-then-rename
    // had a window where an empty registry meant the gate was OPEN)
    lake.subscribers.registerClient("bob")
    assert(lake.subscribers.registeredClients() == Set("alice", "bob"))
    intercept[IllegalStateException](lake.subscribers.checkClient("mallory"))
    // simulate the torn state the old scheme produced — a crash that left
    // only a temp file: with versioned files the published registry is
    // untouched and the gate stays closed
    val logDir = Paths.get(lakeRoot, "_graft_log")
    Files.write(logDir.resolve(".tmp-clients-torn"),
      "[\"mallory\"]".getBytes)
    assert(lake.subscribers.registeredClients() == Set("alice", "bob"))
    intercept[IllegalStateException](lake.subscribers.checkClient("mallory"))
  }

  test("every RETAINED snapshot id stays reconstructable after expiry — " +
    "snapshotAt works across the whole retained window (round-4 advice)") {
    val lakeRoot = tmp("l-retain")
    val lake = new GraftLake(lakeRoot, 4)
    def mk(parent: GraftLake.Snapshot, i: Long): GraftLake.Snapshot = {
      val f = GraftLake.FileEntry(s"f-$i", (i % 4).toInt, 0, 1L)
      parent.copy(id = parent.id + 1, batchId = i, parentId = parent.id,
        files = parent.files :+ f, addedFiles = Seq(f), removedPaths = Nil)
    }
    var prev = lake.init(graft.model.Schemas.targetBase)
    (1L to 20L).foreach { i =>
      prev = lake.commit(mk(prev, i))
      lake.expire(keep = 5) // per-commit retention, like the streaming job
    }
    val retained = lake.snapshotLog().map(_.id)
    assert(retained.max == 20 && retained.size >= 5,
      s"retention fixture broken: $retained")
    assert(retained.min <= 20 - 4, "the contract window must be retained")
    // THE pin: every id the log advertises reconstructs — including ids
    // OLDER than the newest one (the round-4 bug: only maxId was anchored,
    // so these threw 'manifest chain is missing')
    retained.foreach { id =>
      val s = lake.snapshotAt(id)
      assert(s.id == id && s.files.size == id,
        s"snapshotAt($id): got ${s.files.size} files, want $id")
    }
    // and a COLD process sees the same (no in-memory caches)
    val cold = new GraftLake(lakeRoot, 4)
    cold.snapshotLog().map(_.id).foreach { id =>
      assert(cold.snapshotAt(id).files.size == id)
    }
    // dropped ids still refuse
    intercept[IllegalArgumentException](lake.snapshotAt(retained.min - 1))
  }

  test("COLD-process expire (the CLI verb): a fresh instance with no " +
    "in-memory caches anchors the retention cut from the chain walk and " +
    "every retained id stays reconstructable") {
    val lakeRoot = tmp("l-coldexp")
    def mk(parent: GraftLake.Snapshot, i: Long): GraftLake.Snapshot = {
      val f = GraftLake.FileEntry(s"f-$i", (i % 4).toInt, 0, 1L)
      parent.copy(id = parent.id + 1, batchId = i, parentId = parent.id,
        files = parent.files :+ f, addedFiles = Seq(f), removedPaths = Nil)
    }
    // writer process: commits only, NEVER expires (so no anchor exists yet)
    val writer = new GraftLake(lakeRoot, 4)
    var prev = writer.init(graft.model.Schemas.targetBase)
    (1L to 20L).foreach(i => prev = writer.commit(mk(prev, i)))
    // operator process: `Main expire` — a brand-new instance whose
    // anchorCached AND cached are both empty, so the anchor-at-cut publish
    // must come from the rawFor chain walk, not a warm image
    val op = new GraftLake(lakeRoot, 4)
    op.expire(keep = 5)
    val retained = op.snapshotLog().map(_.id)
    assert(retained.max == 20 && retained.min <= 16,
      s"retention window broken: $retained")
    // a third process reads everything the log advertises back
    val reader = new GraftLake(lakeRoot, 4)
    reader.snapshotLog().map(_.id).foreach { id =>
      val s = reader.snapshotAt(id)
      assert(s.id == id && s.files.size == id,
        s"cold snapshotAt($id) after cold expire: ${s.files.size} files, want $id")
    }
    intercept[IllegalArgumentException](reader.snapshotAt(retained.min - 1))
  }

  test("segmented anchors/full manifests: no O(table) metadata publish — " +
    "an anchor write touches only ranges changed since the last one, and " +
    "cold reconstruction reads through segments (round-4 verdict #3)") {
    val lakeRoot = tmp("l-seg")
    // segmentInline = 4 forces the segmented form on a small fixture;
    // nBuckets = 256 → segment width 4 → 64 ranges
    val lake = new GraftLake(lakeRoot, 256, segmentInline = 4)
    def mk(parent: GraftLake.Snapshot, i: Long, bucket: Int): GraftLake.Snapshot = {
      val f = GraftLake.FileEntry(s"f-$i", bucket, 0, 1L)
      parent.copy(id = parent.id + 1, batchId = i, parentId = parent.id,
        files = parent.files :+ f, addedFiles = Seq(f), removedPaths = Nil)
    }
    var prev = lake.init(graft.model.Schemas.targetBase)
    // spread phase: build a table whose full manifest spans all 64 ranges
    (1L to 256L).foreach { i =>
      prev = lake.commit(mk(prev, i, (i % 256).toInt))
      lake.expire(keep = 8)
    }
    val segDir = Paths.get(lakeRoot, "_graft_log", "seg")
    assert(Files.exists(segDir), "segmented anchor never materialized")
    def segCount: Long = Files.list(segDir).count()
    // narrow phase: all commits touch ONLY bucket 0 — anchors published
    // from here on may write at most the ONE changed range's segment each
    // (plus nothing for the 63 unchanged ranges: content-addressed reuse)
    val seg0 = segCount
    val ops0 = lake.metaOps.get()
    (257L to 320L).foreach { i =>
      prev = lake.commit(mk(prev, i, 0))
      lake.expire(keep = 8)
    }
    val newSegs = segCount - seg0
    val anchorsWritten = 64 / 8 // ≈ one anchor per `keep` commits
    assert(newSegs <= anchorsWritten + 2,
      s"$newSegs new segment files for single-range churn — unchanged " +
        "ranges are being rewritten (no content-addressed reuse)")
    // per-commit metadata ops stay bounded (amortized): 64 commits incl.
    // ~8 anchor publishes must cost far less than 64 × O(64 ranges)
    val opsPerCommit = (lake.metaOps.get() - ops0) / 64.0
    assert(opsPerCommit < 40,
      s"metadata ops per commit $opsPerCommit — anchor publishes are not " +
        "amortized/segment-reusing")
    // no single metadata publish is O(table): anchors hold segment REFS,
    // never the inline file list
    val anchorFiles = Files.list(Paths.get(lakeRoot, "_graft_log")).iterator()
      .asScala.filter(_.getFileName.toString.startsWith("anchor-")).toSeq
    assert(anchorFiles.nonEmpty, "fixture must publish anchors")
    anchorFiles.foreach { p =>
      val body = new String(Files.readAllBytes(p))
      assert(body.contains("\"files\":[]"),
        s"${p.getFileName} inlines the O(table) file list")
      assert(body.contains("\"segments\":[{"),
        s"${p.getFileName} carries no segment refs")
    }
    // cold reconstruction walks chain → anchor → segments
    val cold = new GraftLake(lakeRoot, 256, segmentInline = 4)
    val got = cold.latest().get
    assert(got.id == prev.id && got.files.size == 320,
      s"cold read through segments broken: ${got.files.size} files")
    cold.snapshotLog().map(_.id).foreach { id =>
      assert(cold.snapshotAt(id).files.size == id)
    }
    // vacuum sweeps segments no retained full form references
    val before = segCount
    lake.vacuum()
    assert(segCount <= before, "vacuum must not add segments")
    val coldAfter = new GraftLake(lakeRoot, 256, segmentInline = 4)
    assert(coldAfter.latest().get.files.size == 320,
      "vacuum deleted a live segment")
    // round-5: expire GCs segments referenced only by DROPPED forms
    // inline (a long-running stream vacuums once, at startup — without
    // this, dead content-addressed segments accumulate for the life of
    // the process). Invariant at rest: every surviving segment file is
    // referenced by some RETAINED snapshot/anchor JSON.
    val segRefRe = "seg-[^\"/]+\\.json".r
    val referencedSegs: Set[String] =
      Files.list(Paths.get(lakeRoot, "_graft_log")).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .flatMap(p => segRefRe.findAllIn(
          new String(Files.readAllBytes(p))).toSeq)
        .toSet
    val onDisk = Files.list(segDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    val garbage = onDisk -- referencedSegs
    assert(garbage.isEmpty,
      s"${garbage.size} segment files referenced by NO retained form " +
        s"survived expire's inline GC: ${garbage.take(3).mkString(", ")}")
  }

  test("changesBetween refuses a window over LEGACY pre-incremental " +
    "manifests instead of returning a silently-empty changelog " +
    "(round-4 advice)") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    type Node = com.fasterxml.jackson.databind.node.ObjectNode
    // two manifests this build must not read, each in place of snapshot 1:
    // the pre-incremental format (a FULL form with inline files and NO
    // addedFiles/removedPaths — nor formatVersion, which that build never
    // wrote), and a current manifest stamped with an unknown version
    val rewrites: Seq[(String, Int, Node => Unit)] = Seq(
      ("l-legacy", 0, { node =>
        node.set("files", node.get("addedFiles"))
        node.put("incremental", false)
        node.remove("addedFiles"); node.remove("removedPaths")
        node.remove("formatVersion"); ()
      }),
      ("l-future", 2, { node => node.put("formatVersion", 2); () }))
    rewrites.foreach { case (name, version, rewrite) =>
      val lakeRoot = tmp(name)
      val lake = new GraftLake(lakeRoot, 4)
      val prev = lake.init(graft.model.Schemas.targetBase)
      val f = GraftLake.FileEntry("f-1", 0, 0, 1L)
      lake.commit(prev.copy(id = 1, batchId = 0, parentId = 0,
        files = Seq(f), addedFiles = Seq(f),
        lastOffset = Some(graft.model.Offset(1, 1, 0))))
      val p = Paths.get(lakeRoot, "_graft_log", f"snapshot-${1L}%011d.json")
      val node = om.readTree(Files.readAllBytes(p)).asInstanceOf[Node]
      assert(node.get("formatVersion").asInt == GraftLake.FormatVersion)
      rewrite(node)
      Files.write(p, om.writeValueAsBytes(node))
      // both readers fail closed, naming the file and the version found
      val errors = Seq(
        intercept[IllegalStateException](new GraftLake(lakeRoot, 4).latest()),
        intercept[IllegalStateException](
          new GraftLake(lakeRoot, 4).changesBetween(spark, 0, 1).collect()))
      errors.foreach { e =>
        assert(e.getMessage.contains(s"formatVersion $version") &&
          e.getMessage.contains(p.getFileName.toString), e.getMessage)
      }
    }
  }

  test("the expire verb reports the snapshot ids it actually retained, " +
    "which the retention floor can make more than `keep`") {
    val feedDir = tmp("feed-exp"); val lakeRoot = tmp("l-exp")
    BinlogFeedGen.writeFeed(spark, cfg.copy(nEvents = 400), feedDir)
    // two binlog files, one commit each: snapshots 0 (init), 1, 2
    CdcIngestJob.replayBatch(spark, IngestConfig(feedDir, lakeRoot,
      tmp("c-exp"), nBuckets = 4), chunkFiles = 1)
    val lake = new GraftLake(lakeRoot, 4)
    assert(lake.snapshotLog().map(_.id) == Seq(0L, 1L, 2L))

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(graft.cli.Main.main(Array("expire", lakeRoot, "2")))
    val line = out.toString("UTF-8").trim
    val kept = lake.snapshotLog().map(_.id)
    assert(kept.size > 2, s"fixture must keep more than `keep`: $kept")
    assert(line == s"[expire] retained snapshots ${kept.head}..${kept.last} " +
      s"(${kept.size}) at $lakeRoot", line)
  }

  test("every snapshot and anchor manifest a stream run and expire write " +
    "carries the current formatVersion") {
    val lakeRoot = tmp("l-fmt")
    val lake = buildLake(lakeRoot, tmp("c-fmt"))
    lake.expire(keep = 3) // 11 snapshots: anchors the retention cut
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifests = Files.list(Paths.get(lakeRoot, "_graft_log")).iterator()
      .asScala.map(_.getFileName.toString)
      .filter(n => n.matches("(snapshot|anchor)-\\d+\\.json")).toSeq
    assert(manifests.count(_.startsWith("anchor-")) >= 1, manifests)
    assert(manifests.count(_.startsWith("snapshot-")) >= 3, manifests)
    manifests.foreach { n =>
      val v = om.readTree(Files.readAllBytes(
        Paths.get(lakeRoot, "_graft_log", n))).get("formatVersion")
      assert(v != null && v.asInt == GraftLake.FormatVersion, s"$n: $v")
    }
  }

  test("expire refuses keep < 1 (a zero/negative keep would delete every " +
    "snapshot JSON and brick the lake)") {
    val lakeRoot = tmp("lkeep")
    val lake = buildLake(lakeRoot, tmp("ckeep"))
    intercept[IllegalArgumentException](lake.expire(0))
    intercept[IllegalArgumentException](lake.expire(-3))
    assert(lake.latest().isDefined, "lake must survive the refused calls")
  }

  test("discardFiles sweeps the whole uncommitted commit dir, not just its " +
    "parquet files (no husk directories from discarded speculative folds)") {
    val lakeRoot = tmp("ldisc")
    val lake = buildLake(lakeRoot, tmp("cdisc"))
    val snap = lake.latest().get
    val files = writeUncommitted(lake, snap, batchId = 8888)
    val commitDirs = files.map(f =>
      Paths.get(f.path).getParent.getParent).distinct
    assert(commitDirs.nonEmpty && commitDirs.forall(Files.exists(_)))
    lake.discardFiles(files)
    commitDirs.foreach(d => assert(!Files.exists(d),
      s"discarded commit dir $d must not remain as an empty husk"))
    // committed data is untouched
    assert(lake.read(spark, lake.latest().get).count() > 0)
  }

  test("commit ids are fenced: re-committing a snapshot id is an error") {
    val lakeRoot = tmp("l3")
    val lake = new GraftLake(lakeRoot, 4)
    val s0 = lake.init(graft.model.Schemas.targetBase)
    intercept[IllegalStateException](lake.commit(s0))
  }

  test("object-store publish mode: commit, fencing, anchor and registry all " +
    "work with ZERO renames under Publish.Cas (round-3 verdict #8)") {
    def snap(parent: GraftLake.Snapshot, batchId: Long): GraftLake.Snapshot =
      GraftLake.Snapshot(id = parent.id + 1, batchId = batchId,
        schemas = parent.schemas, schemaVersion = parent.schemaVersion,
        files = Nil, lastOffset = None, metrics = Map.empty,
        parentId = parent.id, nBuckets = 4)
    // the double really forbids rename: the DEFAULT rename-mode publish
    // fails fast on this store...
    intercept[UnsupportedOperationException] {
      new GraftLake("graftnr:" + tmp("l-cas-rn"), 4)
        .init(graft.model.Schemas.targetBase)
    }
    // ...while Cas mode runs the whole metadata life cycle on it
    val lakeRoot = "graftnr:" + tmp("l-cas")
    val lake = new GraftLake(lakeRoot, 4, publish = GraftLake.Publish.Cas)
    var prev = lake.init(graft.model.Schemas.targetBase)
    (1 to 12).foreach { i => prev = lake.commit(snap(prev, i)) }
    assert(lake.latest().get.id == 12)
    // fencing: a duplicate id loses the conditional put
    intercept[IllegalStateException](lake.commit(snap(prev.copy(id = 11), 99)))
    // two writers racing the same next id: exactly one wins
    val other = new GraftLake(lakeRoot, 4, publish = GraftLake.Publish.Cas)
    val base = other.latest().get
    assert(base.id == 12)
    lake.commit(snap(prev, 13))
    intercept[IllegalStateException](other.commit(snap(base, 13)))
    // registry + liveness publish without rename
    lake.subscribers.registerClient("alice")
    assert(lake.subscribers.registeredClients() == Set("alice"))
    intercept[IllegalStateException](lake.subscribers.checkClient("mallory"))
    // retention writes its reconstruction anchor via the same seam
    lake.expire(keep = 2)
    assert(snapshotFiles(lakeRoot.stripPrefix("graftnr:")).size == 2)
    val cold = new GraftLake(lakeRoot, 4, publish = GraftLake.Publish.Cas)
    assert(cold.latest().get.id == 13)
  }

  test("D10 liveness: streaming subscribers heartbeat per batch and " +
    "pruneDeadClients removes only stale identities") {
    val feedDir = tmp("feed-hb"); val lakeRoot = tmp("l-hb")
    BinlogFeedGen.writeFeed(spark, cfg, feedDir)
    val lake = new GraftLake(lakeRoot, 4)
    lake.init(graft.model.Schemas.targetBase)
    lake.subscribers.registerClient("alice")
    lake.subscribers.registerClient("bob")
    val regBeat = lake.subscribers.clientHeartbeats()("alice")
    // alice subscribes and streams: her heartbeat advances past registration
    val q = CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, lakeRoot, tmp("c-hb"), nBuckets = 4, maxFilesPerTrigger = 5,
      clientId = Some("alice")))
    q.awaitTermination()
    val beats = lake.subscribers.clientHeartbeats()
    assert(beats("alice") > regBeat,
      "streaming must advance the subscriber's heartbeat per batch")
    // age bob's beat far past any TTL (deterministic staleness — the prune
    // decision is pure arithmetic over the recorded epoch millis)
    // heartbeat filenames are base64url of the id (ids may contain '/')
    val hbBob = "hb-" + java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString("bob".getBytes)
    Files.write(Paths.get(lakeRoot, "_graft_log", hbBob),
      (System.currentTimeMillis() - 600000L).toString.getBytes)
    val dead = lake.subscribers.pruneDeadClients(ttlMs = 300000L)
    assert(dead == Set("bob"))
    assert(lake.subscribers.registeredClients() == Set("alice"))
    intercept[IllegalStateException](lake.subscribers.checkClient("bob"))
    lake.subscribers.checkClient("alice")
    // a pruned-but-alive client just re-registers (advisory gate, not a lock)
    lake.subscribers.registerClient("bob")
    lake.subscribers.checkClient("bob")
  }

  test("vacuum is fenced by the writer lease: refused under a fresh " +
    "foreign lease, allowed for the holder itself and past TTL " +
    "(round-5 review)") {
    val lakeRoot = tmp("l-lease")
    val lake = buildLake(lakeRoot, tmp("c-lease"))
    val snap = lake.latest().get
    def orphan(batchId: Long) = writeUncommitted(lake, snap, batchId)
    val orphans = orphan(7777)
    lake.subscribers.renewLease("writer-a")
    // a foreign sweep is refused while the lease is fresh — it would
    // delete a mid-batch writer's uncommitted files
    val e = intercept[IllegalStateException](lake.vacuum())
    assert(e.getMessage.contains("lease"))
    assert(orphans.forall(f => Files.exists(Paths.get(f.path))),
      "refused vacuum must not have touched anything")
    // the holder itself sweeps straight through (the crash-restart case:
    // same checkpoint lineage, predecessor's orphans must go immediately)
    lake.vacuum(self = "writer-a")
    assert(orphans.forall(f => !Files.exists(Paths.get(f.path))))
    // and a lease past its TTL blocks nobody (the CLI's `force` is ttl 0)
    val orphans2 = orphan(7778)
    lake.subscribers.renewLease("writer-b")
    lake.vacuum(leaseTtlMs = 0L)
    assert(orphans2.forall(f => !Files.exists(Paths.get(f.path))))
  }

  test("a mid-renewal (truncated) lease file still fences vacuum: the " +
    "holder identity is the FILENAME, never the content (round-5 review: " +
    "renewLease overwrites in place, so a concurrent read can catch an " +
    "empty file — which must not compare equal to a CLI vacuum's self=\"\")") {
    val lakeRoot = tmp("l-torn")
    val lake = buildLake(lakeRoot, tmp("c-torn"))
    val snap = lake.latest().get
    val orphans = writeUncommitted(lake, snap, 8888)
    // simulate the renewal window: the lease file exists, content torn/empty
    val enc = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString("writer-x".getBytes)
    Files.write(Paths.get(lakeRoot, "_graft_log", s"lease-$enc.json"),
      Array.empty[Byte])
    val e = intercept[IllegalStateException](lake.vacuum())
    assert(e.getMessage.contains("writer-x"),
      "the truncated lease's holder must be visible (from the filename)")
    assert(orphans.forall(f => Files.exists(Paths.get(f.path))),
      "refused vacuum must not have swept the in-flight writer's files")
    lake.vacuum(self = "writer-x") // the holder itself sweeps through
    assert(orphans.forall(f => !Files.exists(Paths.get(f.path))))
  }

  test("client ids containing path separators heartbeat, prune and gate " +
    "correctly (round-5 review: hb filenames are encoded like lease names, " +
    "so 'team/etl' cannot silently become an invisible subdirectory)") {
    val lakeRoot = tmp("l-hb-slash")
    val lake = new GraftLake(lakeRoot, 4)
    lake.init(graft.model.Schemas.targetBase)
    lake.subscribers.registerClient("team/etl")
    val b0 = lake.subscribers.clientHeartbeats().get("team/etl")
    assert(b0.isDefined, "registration must stamp a visible heartbeat")
    lake.subscribers.heartbeat("team/etl")
    assert(lake.subscribers.clientHeartbeats()("team/etl") >= b0.get)
    // a live beat means prune keeps the client (this is exactly what broke
    // with raw filenames: the beat landed in an hb-team/ subdirectory the
    // listing never saw, and the live subscriber was evicted)
    assert(lake.subscribers.pruneDeadClients(ttlMs = 300000L).isEmpty)
    lake.subscribers.checkClient("team/etl")
    assert(!Files.exists(Paths.get(lakeRoot, "_graft_log", "hb-team")),
      "raw id leaked into the filesystem as a subdirectory")
  }

  test("snapshot publish is single-writer-wins on the local filesystem: " +
    "racing commits of one id leave exactly one intact winner " +
    "(round-5 review: rename-to-existing must fail, not overwrite)") {
    val lakeRoot = tmp("l-race")
    val a = new GraftLake(lakeRoot, 4)
    val b = new GraftLake(lakeRoot, 4)
    val s0 = a.init(graft.model.Schemas.targetBase)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (1 to 6).foreach { round =>
      val id = s0.id + round
      def mk(who: Long) = s0.copy(id = id, parentId = id - 1,
        batchId = id, metrics = Map("who" -> who))
      val gate = new java.util.concurrent.CountDownLatch(1)
      def run(lk: GraftLake, who: Long) = Future {
        gate.await()
        try Some(lk.commit(mk(who)))
        catch { case _: IllegalStateException => None }
      }
      val fs = Seq(run(a, 1L), run(b, 2L))
      gate.countDown()
      val winners = Await.result(Future.sequence(fs), 1.minute).flatten
      assert(winners.size == 1,
        s"round $round: ${winners.size} commits claimed the same id")
      // the surviving JSON is the winner's, bit-for-bit — not the loser's
      // and not a mangled mix (a cold handle re-reads it from disk)
      val fresh = new GraftLake(lakeRoot, 4)
      assert(fresh.snapshotAt(id).metrics("who") ==
        winners.head.metrics("who"),
        s"round $round: loser's publish overwrote the winner's snapshot")
    }
  }

  test("expire segment GC keeps segments shared by a retained OFF-BOUNDARY " +
    "full snapshot (cold-open commit) even when the floor full is inline") {
    // commit() writes a FULL form at any id when the parent isn't cached —
    // i.e. the first commit of every cold-opened process. Such a full can
    // content-share segment files with an older (to-be-dropped) full while
    // the retention-floor full carries NO segment refs at all (file count
    // dipped to ≤ segmentInline). Expire's segment-liveness set must
    // therefore read EVERY retained snapshot, not just boundary fulls —
    // the old filter deleted the shared segments here and a cold process
    // could no longer reconstruct the lake at all.
    val lakeRoot = tmp("l-segcold")
    def open() = new GraftLake(lakeRoot, 8, manifestEvery = 4, segmentInline = 2)
    val f1 = GraftLake.FileEntry("f-1", 0, 0, 1L)
    val f2 = GraftLake.FileEntry("f-2", 1, 0, 1L)
    val f3 = GraftLake.FileEntry("f-3", 2, 0, 1L)
    val f4 = GraftLake.FileEntry("f-4", 3, 0, 1L)
    var prev = open().init(graft.model.Schemas.targetBase) // id0: inline full
    // id1 on a COLD instance: parent uncached → full; 3 files > 2 → SEGMENTED
    val w2 = open()
    prev = w2.commit(prev.copy(id = 1, batchId = 1, parentId = 0,
      files = Seq(f1, f2, f3), addedFiles = Seq(f1, f2, f3),
      removedPaths = Nil))
    // id2-3: incremental; table shrinks back to 2 files
    prev = w2.commit(prev.copy(id = 2, batchId = 2, parentId = 1,
      files = Seq(f1, f2), addedFiles = Nil, removedPaths = Seq("f-3")))
    prev = w2.commit(prev.copy(id = 3, batchId = 3, parentId = 2,
      files = Seq(f1, f2), addedFiles = Nil, removedPaths = Nil))
    // id4: boundary full with 2 files ≤ segmentInline → INLINE, no seg refs
    prev = w2.commit(prev.copy(id = 4, batchId = 4, parentId = 3,
      files = Seq(f1, f2), addedFiles = Nil, removedPaths = Nil))
    // id5 on ANOTHER cold instance: full + segmented again; buckets 0/1 are
    // unchanged since id1, so their segments hash to id1's exact paths
    val w3 = open()
    prev = w3.commit(prev.copy(id = 5, batchId = 5, parentId = 4,
      files = Seq(f1, f2, f4), addedFiles = Seq(f4), removedPaths = Nil))
    prev = w3.commit(prev.copy(id = 6, batchId = 6, parentId = 5,
      files = Seq(f1, f2, f4), addedFiles = Nil, removedPaths = Nil))
    prev = w3.commit(prev.copy(id = 7, batchId = 7, parentId = 6,
      files = Seq(f1, f2, f4), addedFiles = Nil, removedPaths = Nil))
    // keep=3 → cut=5, floor = the inline boundary full id4; ids 0-3 drop,
    // including segmented id1 — whose bucket-0/1 segments id5 still needs
    w3.expire(keep = 3)
    val cold = open()
    val tip = cold.latest().get // chain 7 → 6 → 5 (full): reads id5's segments
    assert(tip.files.map(_.path).toSet == Set("f-1", "f-2", "f-4"),
      s"cold reconstruction after expire broken: ${tip.files.map(_.path)}")
    cold.snapshotLog().map(_.id).foreach { id =>
      cold.snapshotAt(id) // every retained id must stay reconstructable
    }
  }
}
