package graft

import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.stream.{CdcIngestJob, IngestConfig, TableSpec}
import graft.table.GraftLake
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import scala.collection.mutable

/** `spark.readStream.format("graft-changelog")` — the lake changelog as a
  * native Structured Streaming source (the reference's subscription
  * stream, client/akkaSystem/SingleTableBinlogClientActor.java:106-142,
  * with Spark's checkpoint as the ack ledger). Pins: full-state bootstrap
  * + incremental windows fold to EXACTLY the source state; checkpointed
  * restart re-delivers no (key, offset) pair (exactly-once windows);
  * batches are genuinely streaming (isStreaming) while the window's LWW
  * fold stays a BATCH aggregate; schema evolution fails the run with the
  * restart remedy and a restarted query adopts; a checkpoint older than
  * source retention gets the explicit too-old refusal (O3 for
  * subscribers); `bootstrap=none` tails from query start; D10 client
  * gating applies to stream subscribers. */
class ChangelogStreamSpec extends SparkSuite {

  /** Collected delivery ledger: every (repo, path, offset) delivered, with
    * its row values — the fold target AND the exactly-once witness. */
  private final class Ledger {
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val batches = mutable.ArrayBuffer.empty[Long]
    def add(df: DataFrame, batchId: Long): Unit = synchronized {
      batches += batchId
      df.collect().foreach { r =>
        rows += r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq)
      }
    }
    private def offOf(m: Map[String, Any]): (Long, Long, Long) = {
      val o = m("_offset").asInstanceOf[Row]
      (o.getLong(0), o.getLong(1), o.getLong(2))
    }
    def keyOffsets: Seq[(String, String, (Long, Long, Long))] = synchronized {
      rows.map(m => (m("repo").toString, m("path").toString, offOf(m))).toSeq
    }
    def size: Int = synchronized { rows.size }
    /** Per-key LWW fold of everything delivered → live (key → (sha, off)). */
    def folded: Map[(String, String), (String, (Long, Long, Long))] = synchronized {
      val acc = mutable.Map.empty[(String, String), Map[String, Any]]
      rows.foreach { m =>
        val k = (m("repo").toString, m("path").toString)
        if (!acc.get(k).exists(prev =>
          Ordering[(Long, Long, Long)].gteq(offOf(prev), offOf(m)))) acc(k) = m
      }
      acc.filterNot(_._2("_deleted").asInstanceOf[Boolean])
        .map { case (k, m) =>
          k -> (sha256(m("content").toString), offOf(m))
        }.toMap
    }
  }

  private def srcState(
      lake: GraftLake): Map[(String, String), (String, (Long, Long, Long))] =
    lake.read(spark, lake.latest().get)
      .withColumn("sha", sha2(col("content"), 256))
      .select(col("repo"), col("path"), col("sha"),
        col("_offset.fileIdx"), col("_offset.pos"), col("_offset.rowIdx"))
      .collect().map { r =>
        (r.getString(0), r.getString(1)) ->
          (r.getString(2), (r.getLong(3), r.getLong(4), r.getLong(5)))
      }.toMap

  private def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The throwable and its cause chain (bounded). */
  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
  private def someCauseContains(t: Throwable, needle: String): Boolean =
    causes(t).exists(c => Option(c.getMessage).exists(_.contains(needle)))

  private def subscribe(root: String, cp: String, ledger: Ledger,
      extraOpts: Map[String, String] = Map.empty,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None) = {
    var r = spark.readStream.format("graft-changelog").option("path", root)
    extraOpts.foreach { case (k, v) => r = r.option(k, v) }
    val df = r.load()
    assert(df.isStreaming, "the changelog source must be a streaming source")
    var w = df.writeStream
      .option("checkpointLocation", cp)
      .foreachBatch((b: DataFrame, id: Long) => ledger.add(b, id))
    trigger.foreach(t => w = w.trigger(t))
    w.start()
  }

  test("bootstrap + incremental windows fold to the source state; " +
    "checkpointed restart is exactly-once (no re-delivered window)") {
    val feedDir = tmp("feed1"); val srcRoot = tmp("src1"); val cp = tmp("subcp1")
    val prefix = FeedConfig(nEvents = 1200, nKeys = 200, eventsPerFile = 200,
      noopFrac = 0.0, decoyFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp1a"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)

    // phase 1: bootstrap — the first batch is the full state
    val ledger = new Ledger
    val q1 = subscribe(srcRoot, cp, ledger)
    q1.processAllAvailable(); q1.stop()
    assert(ledger.batches.nonEmpty, "bootstrap batch must fire")
    assert(ledger.folded == srcState(src),
      "bootstrap fold drifted from source state")

    // phase 2: the feed grows; upstream streams it in many commits; the
    // RESTARTED subscription (same checkpoint) consumes only new windows
    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = 3600), feedDir)
    CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp1b"), nBuckets = 8, maxFilesPerTrigger = 2))
      .awaitTermination()
    val q2 = subscribe(srcRoot, cp, ledger)
    q2.processAllAvailable(); q2.stop()

    val delivered = ledger.keyOffsets
    assert(delivered.size == delivered.distinct.size,
      "a (key, offset) pair was delivered twice — a window was re-applied " +
        "across the checkpointed restart")
    assert(ledger.folded == srcState(src),
      "bootstrap + incremental windows must fold to the final source state")
  }

  test("schema evolution fails the run with the restart remedy; the " +
    "restarted query adopts; an expired checkpoint gets the too-old refusal") {
    val feedDir = tmp("feed2"); val srcRoot = tmp("src2"); val cp = tmp("subcp2")
    val n = 3000L
    val prefix = FeedConfig(nEvents = n / 3, nKeys = 150, eventsPerFile = 150,
      noopFrac = 0.0, decoyFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp2a"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)

    val ledger = new Ledger
    val q1 = subscribe(srcRoot, cp, ledger)
    q1.processAllAvailable() // bootstrap at schema v0; query stays live

    // upstream ingests a DDL-carrying continuation WHILE the subscription
    // runs: some window's end snapshot carries the evolved schema, and the
    // source (created at v0) must fail that batch with the restart remedy
    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = n,
      ddlAt = BinlogFeedGen.evolutionDdls(n)), feedDir)
    CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp2b"), nBuckets = 8, maxFilesPerTrigger = 2))
      .awaitTermination()
    assert(src.latest().get.schemaVersion >= 1, "upstream must have evolved")
    val ex = intercept[StreamingQueryException] { q1.processAllAvailable() }
    assert(someCauseContains(ex, "restart the streaming query"),
      s"expected the schema-evolution restart remedy, got: $ex")

    // restarted query (fresh source) adopts the evolved schema and resumes
    // from the checkpointed window — fold reaches the final source state
    val q2 = subscribe(srcRoot, cp, ledger)
    q2.processAllAvailable(); q2.stop()
    assert(ledger.folded == srcState(src),
      "post-evolution fold must equal the final source state")
    val delivered = ledger.keyOffsets
    assert(delivered.size == delivered.distinct.size,
      "evolution restart must not re-deliver a committed window")
    // ...and the adopted run COMMITTED its windows: one more restart on
    // the same checkpoint delivers nothing new
    val q2b = subscribe(srcRoot, cp, ledger)
    q2b.processAllAvailable(); q2b.stop()
    val delivered2 = ledger.keyOffsets
    assert(delivered2.size == delivered2.distinct.size &&
      delivered2.size == delivered.size,
      "the post-evolution windows were not committed — a further restart " +
        "re-delivered them")

    // retention overtakes the checkpoint: the restarted subscription gets
    // the explicit too-old refusal (reference O3, for subscribers)
    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = n + 1200,
      ddlAt = BinlogFeedGen.evolutionDdls(n)), feedDir)
    CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp2c"), maxFilesPerTrigger = 1,
      tables = Seq(TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable,
        srcRoot, nBuckets = 8, expireKeep = 2)))).awaitTermination()
    src.expire(2)
    val q3 = subscribe(srcRoot, cp, new Ledger)
    val ex2 = intercept[StreamingQueryException] { q3.processAllAvailable() }
    assert(someCauseContains(ex2, "subscription too old"),
      s"expected the too-old refusal, got: $ex2")
  }

  test("downstream STATEFUL streaming ops compose: a complete-mode " +
    "aggregation over the change stream accumulates across micro-batches") {
    val feedDir = tmp("feed4"); val srcRoot = tmp("src4")
    val prefix = FeedConfig(nEvents = 800, nKeys = 100, eventsPerFile = 200,
      noopFrac = 0.0, decoyFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp4a"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)
    val tip1 = src.latest().get.id

    // the source's batch-planned window behind a streaming leaf must feed
    // Spark's own STATEFUL machinery: state store, complete output mode.
    // (The query is STOPPED while upstream commits, so the tail resumes
    // over exactly ONE pending window — a live tail may slice the same
    // changes into more windows, re-counting a key once per window, which
    // is correct delivery but not a deterministic expectation.)
    def counting() = spark.readStream.format("graft-changelog")
      .option("path", srcRoot).load()
      .filter(!col("_deleted"))
      .groupBy("repo").count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("chg_counts")
      .option("checkpointLocation", tmp("subcp4"))
      .start()
    val q = counting()
    q.processAllAvailable(); q.stop()

    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = 2000), feedDir)
    CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp4b"), nBuckets = 8, maxFilesPerTrigger = 2))
      .awaitTermination()
    // restarted aggregation recovers its state store and adds the window
    val q2 = counting()
    q2.processAllAvailable(); q2.stop()

    // expected = live bootstrap rows + live incremental-window rows, per
    // repo — computed with the BATCH API over the same windows
    val tip2 = src.latest().get.id
    val boot = src.read(spark, src.snapshotAt(tip1))
      .groupBy("repo").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val win = src.changesBetween(spark, tip1, tip2)
      .filter(!col("_deleted")).groupBy("repo").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = (boot.keySet ++ win.keySet).map(k =>
      k -> (boot.getOrElse(k, 0L) + win.getOrElse(k, 0L))).toMap
    val got = spark.table("chg_counts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want,
      "the streaming aggregation's state must accumulate exactly the " +
        "delivered live change rows across micro-batches")
  }

  test("a DDL between load() and start() keeps the run on the ANALYZED " +
    "schema (crafted restart remedy, not an arity assert); bad bootstrap " +
    "modes fail closed") {
    val feedDir = tmp("feed6"); val srcRoot = tmp("src6"); val cp = tmp("subcp6")
    val n = 1500L
    val prefix = FeedConfig(nEvents = 600, nKeys = 100, eventsPerFile = 150,
      noopFrac = 0.0, decoyFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp6a"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)

    // analysis pins the plan's schema at v0...
    val df = spark.readStream.format("graft-changelog")
      .option("path", srcRoot).load()
    // ...then a DDL lands BEFORE start(): the source must stay on the
    // analyzed schema and fail the first post-DDL window with the
    // evolution remedy — not feed the runner mismatched-arity batches
    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = n,
      ddlAt = BinlogFeedGen.evolutionDdls(n)), feedDir)
    CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp6b"), nBuckets = 8, maxFilesPerTrigger = 2))
      .awaitTermination()
    assert(src.latest().get.schemaVersion >= 1, "upstream must have evolved")
    val ledger = new Ledger
    val q = df.writeStream.option("checkpointLocation", cp)
      .foreachBatch((b: DataFrame, id: Long) => ledger.add(b, id)).start()
    val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
    assert(someCauseContains(ex, "restart the streaming query"),
      s"expected the evolution restart remedy, got: $ex")
    // a fresh start() (fresh analysis) adopts and folds to the final state
    val q2 = subscribe(srcRoot, cp, ledger)
    q2.processAllAvailable(); q2.stop()
    assert(ledger.folded == srcState(src),
      "the restarted run must fold to the final source state")

    // fail-closed on a typo'd bootstrap mode (silently tailing from now
    // would skip the bootstrap and lose every pre-existing key)
    val exb = intercept[Exception] {
      val qb = subscribe(srcRoot, tmp("subcp6c"), new Ledger,
        Map("bootstrap" -> "ful"))
      try qb.processAllAvailable() finally qb.stop()
    }
    assert(someCauseContains(exb, "unknown bootstrap mode"),
      s"expected the bootstrap-mode refusal, got: $exb")
  }

  test("maxSnapshotsPerTrigger bounds catch-up windows (D4 flow control " +
    "for subscribers) without changing the folded result") {
    val feedDir = tmp("feed5"); val srcRoot = tmp("src5")
    val prefix = FeedConfig(nEvents = 600, nKeys = 100, eventsPerFile = 100,
      noopFrac = 0.0, decoyFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp5a"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)

    val ledger = new Ledger
    val q1 = subscribe(srcRoot, tmp("subcp5"), ledger,
      Map("maxSnapshotsPerTrigger" -> "2"))
    q1.processAllAvailable() // bootstrap (one full-state window, uncapped)
    val tip1 = src.latest().get.id
    val bootstrapBatches = ledger.batches.size

    // backlog: many upstream commits while the subscription is STOPPED
    q1.stop()
    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = 2400), feedDir)
    CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp5b"), nBuckets = 8, maxFilesPerTrigger = 1))
      .awaitTermination()
    val backlog = src.latest().get.id - tip1
    assert(backlog >= 4, s"fixture must build a real backlog (got $backlog)")

    val q2 = subscribe(srcRoot, tmp("subcp5"), ledger,
      Map("maxSnapshotsPerTrigger" -> "2"))
    q2.processAllAvailable(); q2.stop()
    val catchUp = ledger.batches.size - bootstrapBatches
    assert(catchUp >= (backlog + 1) / 2,
      s"a $backlog-snapshot backlog at credit 2 must drain in >= " +
        s"${(backlog + 1) / 2} bounded windows, got $catchUp")
    assert(ledger.folded == srcState(src),
      "bounded catch-up windows must fold to the same final state")
    val delivered = ledger.keyOffsets
    assert(delivered.size == delivered.distinct.size,
      "bounded windows must not re-deliver")
  }

  /** Drain the changelog subscription to the tip, restarting through any
    * schema-evolution refusals (the documented dance: one restart per
    * adopted version, bounded). */
  private def drain(root: String, cp: String, ledger: Ledger,
      opts: Map[String, String]): Unit = {
    var done = false; var restarts = 0
    while (!done) {
      val q = subscribe(root, cp, ledger, opts)
      try { q.processAllAvailable(); q.stop(); done = true }
      catch {
        case e: StreamingQueryException
          if someCauseContains(e, "restart the streaming query") =>
          scala.util.Try(q.stop())
          restarts += 1
          assert(restarts <= 5, s"subscription did not converge: $e")
      }
    }
  }

  test("fuzz: random chunked ingest + random-credit subscription, DDLs at " +
    "random offsets, folds to the source state through evolution restarts " +
    "(seeded)") {
    val rnd = new scala.util.Random(fuzzSeed(0x57AB1E5L))
    (1 to 2).foreach { pt =>
      val n = 2000L + rnd.nextInt(2000)
      val n1 = n / 3
      val base = FeedConfig(nEvents = n1,
        nKeys = 80 + rnd.nextInt(250), seed = rnd.nextLong(),
        eventsPerFile = 150 + rnd.nextInt(350),
        skew = rnd.nextDouble() * 0.4, nHotKeys = 2 + rnd.nextInt(5),
        noopFrac = rnd.nextDouble() * 0.3,
        decoyFrac = rnd.nextDouble() * 0.1)
      // DDLs land strictly AFTER the prefix so phase-1 files are a stable
      // prefix of phase-2's (same generator property ChainedLakeSpec uses)
      val span = (n - n1 - 4).toInt
      val positions = {
        val s = scala.collection.mutable.SortedSet.empty[Long]
        while (s.size < 4) s += n1 + 2 + rnd.nextInt(span)
        s.toVector
      }
      // add < widen < rename is a semantic requirement; the lang drop
      // lands in a random slot among the four (FuzzReplaySpec's pattern)
      val dropSlot = rnd.nextInt(4)
      val Vector(pAdd, pWiden, pRename) =
        positions.zipWithIndex.collect { case (p, j) if j != dropSlot => p }
      val ddls = Map(
        pAdd -> graft.model.DdlChange("add_column", "size", "", "int"),
        pWiden -> graft.model.DdlChange("widen_type", "size", "int", "bigint"),
        pRename -> graft.model.DdlChange("rename_column", "size", "", "bytes"),
        positions(dropSlot) -> graft.model.DdlChange("drop_column", "lang", "", ""))
      val credit = if (rnd.nextBoolean())
        Map("maxSnapshotsPerTrigger" -> (1 + rnd.nextInt(3)).toString)
      else Map.empty[String, String]
      val label = s"pt$pt n=$n seed=${base.seed} epf=${base.eventsPerFile} " +
        s"ddls=${ddls.keys.toSeq.sorted.mkString(",")} credit=$credit"
      withClue(label) {
        val feedDir = tmp(s"fz${pt}f"); val srcRoot = tmp(s"fz${pt}s")
        val cp = tmp(s"fz${pt}cp")
        BinlogFeedGen.writeFeed(spark, base, feedDir)
        CdcIngestJob.replayBatch(spark, IngestConfig(
          feedDir, srcRoot, tmp(s"fz${pt}c1"), nBuckets = 1 << (1 + rnd.nextInt(4))))
        val src = new GraftLake(srcRoot,
          GraftLake.storedBuckets(srcRoot).get)
        val ledger = new Ledger
        drain(srcRoot, cp, ledger, credit) // bootstrap
        // grow with DDLs; ingest in rate-limited microbatches; drain
        // through however many evolution restarts the run needs
        BinlogFeedGen.writeFeed(spark,
          base.copy(nEvents = n, ddlAt = ddls), feedDir)
        CdcIngestJob.runStream(spark, IngestConfig(
          feedDir, srcRoot, tmp(s"fz${pt}c2"),
          nBuckets = src.nBuckets,
          maxFilesPerTrigger = 1 + rnd.nextInt(3))).awaitTermination()
        // the stream folds a batch's DDLs into ONE new version (end-of-
        // batch schema ≡ per-event catalog refresh), so version count is
        // batch-granular — assert the full DDL surface by SHAPE instead
        val tip = src.latest().get
        val cur = src.currentSchema(tip).fieldNames.toSet
        assert(tip.schemaVersion >= 1 && cur.contains("bytes") &&
          !cur.contains("size") && !cur.contains("lang"),
          s"fixture must exercise the full DDL surface (v=${tip.schemaVersion}, cols=$cur)")
        drain(srcRoot, cp, ledger, credit)
        assert(ledger.folded == srcState(src),
          "subscription fold drifted from the source state")
        val delivered = ledger.keyOffsets
        assert(delivered.size == delivered.distinct.size,
          "a window was re-delivered across evolution restarts")
      }
    }
  }

  test("bootstrap=none tails from query start; D10 gates stream subscribers") {
    val feedDir = tmp("feed3"); val srcRoot = tmp("src3")
    val prefix = FeedConfig(nEvents = 900, nKeys = 120, eventsPerFile = 150,
      noopFrac = 0.0, decoyFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp3a"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)
    val tip0 = src.latest().get

    // tail-only: nothing from the pre-existing state...
    val ledger = new Ledger
    val q1 = subscribe(srcRoot, tmp("subcp3"), ledger,
      Map("bootstrap" -> "none"))
    q1.processAllAvailable()
    assert(ledger.size == 0, "bootstrap=none must not replay state")
    // ...then exactly the windows committed after query start
    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = 1800), feedDir)
    CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cp3b"), nBuckets = 8, maxFilesPerTrigger = 2))
      .awaitTermination()
    q1.processAllAvailable(); q1.stop()
    assert(ledger.size > 0, "the tail must deliver post-start windows")
    val lo = graft.model.Offset.encode(tip0.lastOffset.get)
    assert(ledger.keyOffsets.forall { case (_, _, (f, p, r)) =>
      graft.model.Offset.encode(graft.model.Offset(f, p, r)).compareTo(lo) > 0
    }, "bootstrap=none delivered a pre-start row")

    // D10: once a registry exists, an unregistered subscriber id is
    // refused at query start; a registered one subscribes and heartbeats
    src.subscribers.registerClient("etl-1")
    val exd = intercept[Exception] {
      val q = subscribe(srcRoot, tmp("subcp3d"), new Ledger,
        Map("bootstrap" -> "none", "clientId" -> "nobody"))
      try q.processAllAvailable() finally q.stop()
    }
    assert(someCauseContains(exd, "not registered"),
      s"expected a client-registry refusal, got: $exd")
    val q2 = subscribe(srcRoot, tmp("subcp3e"), new Ledger,
      Map("bootstrap" -> "none", "clientId" -> "etl-1"))
    q2.processAllAvailable(); q2.stop()
  }

  test("chunked bootstrap == one-shot bootstrap row-for-row; a kill " +
    "between chunks resumes without re-serving completed chunks; the " +
    "tail continues from the pinned base (round-5 verdict #1)") {
    val feedDir = tmp("feedCB"); val srcRoot = tmp("srcCB")
    val prefix = FeedConfig(nEvents = 1200, nKeys = 200, eventsPerFile = 200,
      noopFrac = 0.0, decoyFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cpCBa"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)

    // reference: the one-shot bootstrap
    val oneShot = new Ledger
    val q0 = subscribe(srcRoot, tmp("subcpCB0"), oneShot)
    q0.processAllAvailable(); q0.stop()
    assert(oneShot.batches.size == 1, "one-shot bootstrap must be ONE batch")

    // chunked: 8 buckets at 3 per chunk = 3 chunk windows. Drive the
    // first chunk ALONE (Trigger.Once = one committed micro-batch, then a
    // clean process exit — each chunk commit is atomic, so this IS the
    // kill-between-chunks state), then resume from the same checkpoint.
    val cp = tmp("subcpCB1")
    val l1 = new Ledger
    val qa = subscribe(srcRoot, cp, l1, Map("bootstrapBuckets" -> "3"),
      Some(org.apache.spark.sql.streaming.Trigger.Once()))
    qa.awaitTermination()
    assert(l1.batches.size == 1, "Trigger.Once must serve exactly one chunk")
    assert(l1.size > 0 && l1.size < oneShot.size,
      s"chunk 0 must be a proper subset of the state (${l1.size} of ${oneShot.size})")

    val l2 = new Ledger
    val qb = subscribe(srcRoot, cp, l2, Map("bootstrapBuckets" -> "3"))
    qb.processAllAvailable(); qb.stop()
    assert(l2.batches.size >= 2,
      s"the resumed bootstrap must serve the remaining chunks (got ${l2.batches.size} batches)")
    val k1 = l1.keyOffsets.toSet; val k2 = l2.keyOffsets.toSet
    assert(k1.intersect(k2).isEmpty,
      "a completed chunk was re-served after the mid-bootstrap kill")
    assert(k1 ++ k2 == oneShot.keyOffsets.toSet,
      "chunked bootstrap is not row-for-row equal to the one-shot bootstrap")

    // the tail continues from the pinned base: grow the source, drain,
    // and the union must fold to the final source state with no
    // (key, offset) ever delivered twice
    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = 2400), feedDir)
    CdcIngestJob.runStream(spark, IngestConfig(
      feedDir, srcRoot, tmp("cpCBb"), nBuckets = 8, maxFilesPerTrigger = 2))
      .awaitTermination()
    val l3 = new Ledger
    val qc = subscribe(srcRoot, cp, l3, Map("bootstrapBuckets" -> "3"))
    qc.processAllAvailable(); qc.stop()
    val all = l1.keyOffsets ++ l2.keyOffsets ++ l3.keyOffsets
    assert(all.size == all.distinct.size,
      "a (key, offset) pair was delivered twice across bootstrap + tail")
    val combined = new Ledger
    Seq(l1, l2, l3).foreach(l => combined.rows ++= l.rows)
    assert(combined.folded == srcState(src),
      "chunked bootstrap + tail windows must fold to the final source state")
  }

  test("a re-planned first window is deterministic for bootstrap=none: " +
    "the persisted base survives source re-creation (round-5 advice)") {
    val feedDir = tmp("feedPB"); val srcRoot = tmp("srcPB")
    val prefix = FeedConfig(nEvents = 600, nKeys = 100, eventsPerFile = 150,
      noopFrac = 0.0, decoyFrac = 0.0)
    BinlogFeedGen.writeFeed(spark, prefix, feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cpPBa"), nBuckets = 8))
    val src = new GraftLake(srcRoot, 8)
    val e0 = src.latest().get.id

    // the ORIGINAL run's source, created while the lake tip is e0
    val meta = tmp("metaPB")
    val params = Map("path" -> srcRoot, "bootstrap" -> "none")
    val s1 = new graft.stream.ChangelogStreamSource(spark, params, meta)

    // the source advances before the first trigger fires
    BinlogFeedGen.writeFeed(spark, prefix.copy(nEvents = 1200), feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, srcRoot, tmp("cpPBb"), nBuckets = 8))
    val e1 = src.latest().get.id
    assert(e1 > e0)

    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    // a getBatch result is streaming-flagged (collect() refuses); its one
    // LogicalRDD leaf carries the already-compiled batch RDD — count that
    def rowsOf(df: DataFrame): Long =
      df.queryExecution.analyzed.collectLeaves().collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.count()
      }.getOrElse(df.count())
    // batch 0 as originally planned: (base, e1] — non-empty
    val n1 = rowsOf(s1.getBatch(None, LongOffset(e1)))
    assert(n1 > 0, "the original batch 0 must carry the (e0, e1] window")
    assert(n1 == rowsOf(src.changesBetween(spark, e0, e1)))

    // crash after the offset log recorded e1 but before the batch
    // committed: the restart re-creates the source (whose creation-time
    // tip is now e1) and re-plans getBatch(None, e1) — the persisted base
    // must make it re-serve exactly the original window, not an empty one
    val s2 = new graft.stream.ChangelogStreamSource(spark, params, meta)
    val n2 = rowsOf(s2.getBatch(None, LongOffset(e1)))
    assert(n2 == n1,
      s"re-planned batch 0 served $n2 rows, original served $n1 — the " +
        "tail base did not survive source re-creation")
  }

  test("a non-numeric or out-of-range numeric option fails with an " +
    "IllegalArgumentException naming the option") {
    val root = tmp("badopts")
    Seq("bootstrapBuckets" -> "abc", "bootstrapBuckets" -> "99999999999",
      "maxSnapshotsPerTrigger" -> "4x",
      "bootstrapBucket" -> "3" // an unknown key names itself the same way
    ).foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException] {
        new graft.stream.ChangelogStreamSource(spark, Map("path" -> root, k -> v))
      }
      assert(e.getMessage.contains(k), e.getMessage)
    }
  }

  test("an unknown source option fails naming itself and the known keys; " +
    "a query opened with .load(root) and all five options set still runs") {
    val feedDir = tmp("optsFeed"); val root = tmp("optsLake")
    BinlogFeedGen.writeFeed(spark, FeedConfig(nEvents = 600, nKeys = 100,
      eventsPerFile = 150, noopFrac = 0.0, decoyFrac = 0.0), feedDir)
    CdcIngestJob.replayBatch(spark, IngestConfig(
      feedDir, root, tmp("optsCp"), nBuckets = 8))
    val lake = new GraftLake(root, 8)
    // misspelled, bootstrapBuckets would silently serve a one-shot bootstrap
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-changelog")
        .option("bootstrapBucket", 3).load(root)
    }
    assert(e.getMessage.contains("unknown option 'bootstrapBucket'") &&
      e.getMessage.contains(
        "path, clientId, bootstrap, maxSnapshotsPerTrigger, bootstrapBuckets"),
      e.getMessage)
    lake.subscribers.registerClient("opts")
    val ledger = new Ledger
    val q = spark.readStream.format("graft-changelog")
      .option("clientId", "opts").option("bootstrap", "full")
      .option("maxSnapshotsPerTrigger", 2).option("bootstrapBuckets", 4)
      .load(root).writeStream.option("checkpointLocation", tmp("optsSubCp"))
      .foreachBatch((b: DataFrame, id: Long) => ledger.add(b, id)).start()
    q.processAllAvailable(); q.stop()
    // 8 buckets, 4 per batch: the bootstrap arrives as 2 batches
    assert(ledger.batches.size >= 2, s"batches ${ledger.batches}")
    assert(ledger.folded == srcState(lake))
  }

  test("the tail verb rejects a non-positive-integer for:/credit:/" +
    "bootstrapBuckets: value before any session starts") {
    val root = tmp("badtail")
    val tailCases =
      Seq("bootstrapBuckets:abc", "for:-5", "credit:0", "credit:")
        .map(a => Seq("tail", root, a) -> a.takeWhile(_ != ':')) :+
        (Seq("tail", root, "clientid:x") -> "unknown argument 'clientid:x'") :+
        (Seq("tail", root, "0", "for:1000", "for:30000") ->
          "unknown argument 'for:30000'") :+
        (Seq("tail", root, "1", "7", "for:4000") -> "unknown argument '7'")
    // every other verb's numeric arguments take the same check: one
    // malformed value per argument, each error naming its argument
    val (feed, lake, cp) = (tmp("badfeed"), tmp("badlake"), tmp("badcp"))
    val verbCases = Seq(
      Seq("gen", feed, "1e3", "10") -> "nEvents",
      Seq("gen", feed, "100", "0") -> "nKeys",
      Seq("gen", feed, "100", "10", "-1") -> "skew",
      Seq("gen", feed, "100", "10", "0", "1.5") -> "dupTailFrac",
      Seq("gen", feed, "6000", "400", "0.3", "0.2", "evolv") -> "unknown argument 'evolv'",
      Seq("gen", feed, "100", "10", "0", "0", "evolve", "x") -> "unknown argument 'x'",
      Seq("replay", feed, lake, "many") -> "nBuckets",
      Seq("stream", feed, lake, cp, "8x") -> "maxFilesPerTrigger",
      Seq("stream", feed, lake, cp, "supervise:-1") -> "supervise",
      Seq("stream", feed, lake, cp, "8", "4") -> "unknown argument '4'",
      Seq("stream", feed, lake, cp, "lastpos", "continue") -> "unknown argument 'continue'",
      Seq("clients", lake, "prune:soon") -> "prune",
      Seq("clients", lake, "prun:0") -> "unknown argument 'prun:0'",
      Seq("vacuum", lake, "forse") -> "unknown argument 'forse'",
      Seq("show", lake, "-3") -> "show: n ",
      Seq("show", lake, "5", "extra") -> "unknown argument 'extra'",
      Seq("get", lake, "repo-0", "a.scala", "asof:latest") -> "asof",
      Seq("get", lake, "repo-0", "a.scala", "asf:1") -> "unknown argument 'asf:1'",
      Seq("rebucket", lake, "0") -> "newN",
      Seq("optimize", lake, "all") -> "maxBucketsPerCommit",
      Seq("expire", lake, "0") -> "keep",
      Seq("expire", lake, "2", "x") -> "unknown argument 'x'",
      Seq("log", lake, "extra") -> "unknown argument 'extra'",
      Seq("replay", feed, lake, "8", "9") -> "unknown argument '9'",
      Seq("optimize", lake, "4", "5") -> "unknown argument '5'",
      Seq("frobnicate", lake) -> "unknown verb",
      Seq("changes", lake, "a", "3") -> "fromSnap",
      Seq("changes", lake, "1", "b") -> "toSnap",
      Seq("changes", lake, "1", "3", "x") -> "changes: n ",
      Seq("sync", lake, tmp("baddst"), "follow:0") -> "follow",
      Seq("sync", lake, tmp("baddst"), "folow:100") -> "unknown argument 'folow:100'",
      Seq("sync", lake, tmp("baddst"), "clientid:x") -> "unknown argument 'clientid:x'",
      // a repeated or surplus token fails too, never runs with the first
      Seq("stream", feed, lake, cp, "client:a", "client:b") -> "unknown argument 'client:b'",
      Seq("stream", feed, lake, cp, "supervise:0", "supervise:5") ->
        "unknown argument 'supervise:5'",
      Seq("sync", lake, tmp("baddst"), "client:a", "client:b") ->
        "unknown argument 'client:b'",
      Seq("sync", lake, tmp("baddst"), "follow:100", "follow:200") ->
        "unknown argument 'follow:200'",
      Seq("get", lake, "r", "p", "asof:1", "asof:2") -> "unknown argument 'asof:2'",
      Seq("clients", lake, "prune:1", "x") -> "unknown argument 'x'")
    (tailCases ++ verbCases).foreach { case (args, name) =>
      val e = intercept[IllegalArgumentException] {
        graft.cli.Main.main(args.toArray)
      }
      assert(e.getMessage.contains(name), s"$args: ${e.getMessage}")
    }
    // the verb stops the session it starts: had one started, it would
    // have been this suite's
    assert(!spark.sparkContext.isStopped)
  }
}
