package graft.cli

import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.model.Offset
import graft.stream.{CdcIngestJob, IngestConfig, ResumeMode}
import graft.table.GraftLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entrypoint (SURVEY.md §7.2): generate a feed, replay it
  * into the lake (batch or streaming), inspect the result. The verbs and
  * their arguments are the grammar table [[Main.verbs]].
  *
  * Bucket-count discipline: the (repo,path)→bucket
  * assignment is a pure function of nBuckets, so every command that opens
  * an EXISTING lake adopts the count persisted in its snapshot log
  * ([[GraftLake.storedBuckets]]) — a mismatched count would silently land
  * a key's delta in a different bucket than its base row and merge-on-read
  * would never pair them. `replay` chooses/persists the count only for a
  * brand-new lake. */
object Main {
  /** `feedScans = true` for commands whose hot path is the binlog feed
    * (gen/replay/stream): the feed's 2 MB row groups (BinlogFeedGen
    * rowGroupMb) only parallelize a maxFilesPerTrigger-file microbatch if
    * the split size drops to match. Lake-inspection commands
    * (show/changes) keep the 128 MB default — slicing large zstd base
    * files into ~64× more tasks is pure scheduler overhead there. */
  private def session(feedScans: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-cdc")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // split feed files down to their row groups so a
    // maxFilesPerTrigger-file microbatch scans at full core width, not at
    // maxFilesPerTrigger-way parallelism
    val s = (if (feedScans) b.config("spark.sql.files.maxPartitionBytes", "2m")
             else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Single-writer rule for the offline maintenance verbs: refuse while a
    * live stream (or another maintenance run) holds a fresh writer lease.
    * expire would race the stream's own per-commit trim; optimize/rebucket
    * would race its snapshot CAS and waste a full rewrite losing it. Their
    * own lease (taken inside the engine calls) additionally fences vacuum
    * off their uncommitted output. */
  private def refuseUnderLiveWriter(lake: GraftLake, lakeRoot: String,
      verb: String): Unit =
    lake.subscribers.liveWriter().foreach { h =>
      throw new IllegalStateException(
        s"$verb refused: writer '$h' holds a fresh lease on $lakeRoot — " +
          "stop the stream first or wait out the lease")
    }

  /** The lake at `root`, opened with the bucket count its snapshot log
    * records, else `orElse` (see the bucket-count discipline above). */
  private def openLake(root: String, orElse: => Int = 0): GraftLake =
    new GraftLake(root, GraftLake.storedBuckets(root).getOrElse(orElse))
  private def noLake(root: String): Nothing = sys.error(s"no lake at $root")

  /** The first `n` rows of `df` in key order, `content` shown as its sha256. */
  private def showRows(df: DataFrame, n: Int): Unit =
    df.withColumn("sha", sha2(col("content"), 256)).drop("content")
      .orderBy("repo", "path").show(n, truncate = false)

  /** Every verb's grammar, checked by [[Args.parse]] before any session
    * starts: a typo, a surplus or repeated argument must fail, never run as
    * if it were absent. */
  val verbs: Map[String, Verb] = Map(
    "gen" -> Verb(Seq("feedDir", "nEvents", "nKeys"), Seq("skew", "dupTailFrac"),
      Seq(Seq("evolve", "evolve-full"))),
    "replay" -> Verb(Seq("feedDir", "lakeRoot"), Seq("nBuckets")), // one-shot
    "stream" -> Verb(Seq("feedDir", "lakeRoot", "checkpointDir"), Seq("maxFilesPerTrigger"),
      Seq(Seq("continue", "lastpos", "from:<fileIdx_pos_rowIdx>", "gtid:<seqId>"),
        Seq("client:<id>"), Seq("supervise:<maxRestarts>"))), // D9 failover
    "register" -> Verb(Seq("lakeRoot", "clientId")), // D10 identity registry
    "clients" -> Verb(Seq("lakeRoot"), kinds = Seq(Seq("prune:<ttlSec>"))),
    "show" -> Verb(Seq("lakeRoot"), Seq("n")),
    "get" -> Verb(Seq("lakeRoot", "repo", "path"), kinds = Seq(Seq("asof:<snapId>"))),
    "log" -> Verb(Seq("lakeRoot")), // retained snapshot history
    "changes" -> Verb(Seq("lakeRoot", "fromSnap", "toSnap"), Seq("n")), // CDC-out
    "sync" -> Verb(Seq("srcLake", "dstLake"), // chain a lake off a lake
      kinds = Seq(Seq("client:<id>"), Seq("follow:<pollMs>"))),
    "tail" -> Verb(Seq("lakeRoot"), Seq("n"), Seq(Seq("bootstrap:none"),
      Seq("client:<id>"), Seq("for:<ms>"), Seq("cp:<dir>"), Seq("credit:<k>"),
      Seq("bootstrapBuckets:<k>"))), // the changelog as a readStream source
    "describe" -> Verb(Seq("lakeRoot")), // schema history + debt views
    "metrics" -> Verb(Seq("lakeRoot")), // per-snapshot scalar metrics
    "vacuum" -> Verb(Seq("lakeRoot"), kinds = Seq(Seq("force"))), // orphan sweep
    "expire" -> Verb(Seq("lakeRoot", "keep")), // manual retention trim
    "rebucket" -> Verb(Seq("lakeRoot", "newN")), // offline re-shard
    "optimize" -> Verb(Seq("lakeRoot"), Seq("maxBucketsPerCommit"),
      Seq(Seq("feed:<feedDir>")))) // offline full compaction

  def main(argv: Array[String]): Unit = run(Args.parse(argv.toSeq, verbs))

  private def run(a: Args): Unit = a.verb match {
    case "gen" =>
      val nl = a.long("nEvents").get
      val nk = a.int("nKeys").get
      val skew = a.double("skew").getOrElse(0.0)
      val dup = a.double("dupTailFrac", hi = 1.0).getOrElse(0.0)
      // `evolve` = add+widen; `evolve-full` adds mid-feed RENAME and DROP
      // too, so the whole DDL surface is drivable from the CLI
      val ddls =
        if (a.has("evolve-full")) BinlogFeedGen.evolutionDdls(nl) ++ Map(
          (nl * 4 / 5) -> graft.model.DdlChange("rename_column", "size", "", "bytes"),
          (nl * 9 / 10) -> graft.model.DdlChange("drop_column", "lang", "", ""))
        else if (a.has("evolve")) BinlogFeedGen.evolutionDdls(nl)
        else Map.empty[Long, graft.model.DdlChange]
      val cfg = FeedConfig(nl, nk, skew = skew, dupTailFrac = dup,
        ddlAt = ddls)
      val spark = session(feedScans = true)
      BinlogFeedGen.writeFeed(spark, cfg, a("feedDir"))
      println(s"[gen] wrote $nl events ($nk keys, skew=$skew, dup=$dup, " +
        s"ddls=${ddls.size}) to ${a("feedDir")}")
      spark.stop()

    case "replay" =>
      val (feedDir, lakeRoot) = (a("feedDir"), a("lakeRoot"))
      val pinned = a.int("nBuckets")
      val spark = session(feedScans = true)
      // an existing lake pins the count; a new one scales it with the
      // feed's row volume unless pinned explicitly (a fixed count makes
      // per-bucket compactions O(table) at scale)
      val nBuckets = GraftLake.storedBuckets(lakeRoot).orElse(pinned).getOrElse {
          val est = spark.read.parquet(feedDir).count()
          GraftLake.suggestedBuckets(est, targetRowsPerBucket = 500000L)
        }
      val m = CdcIngestJob.replayBatch(spark,
        IngestConfig(feedDir, lakeRoot, lakeRoot + "/_cp", nBuckets = nBuckets))
      println(s"[replay] nBuckets=$nBuckets $m")
      spark.stop()

    case "stream" =>
      val lakeRoot = a("lakeRoot")
      // D9: supervise:<n> relaunches the stream from its checkpoint on
      // failure, up to n consecutive unproductive restarts (the reference
      // client's reconnect-and-re-register failover loop)
      val supervise = a.int("supervise:", lo = 0)
      val mft = a.int("maxFilesPerTrigger").getOrElse(8)
      val mode = a.get("from:").map(p => ResumeMode.FromPos(Offset.parse(p)))
        .orElse(a.get("gtid:").map(ResumeMode.FromGtid))
        .getOrElse(if (a.has("continue")) ResumeMode.Continue else ResumeMode.LastPos)
      val spark = session(feedScans = true)
      val nBuckets = GraftLake.storedBuckets(lakeRoot).getOrElse(32)
      val icfg = IngestConfig(a("feedDir"), lakeRoot, a("checkpointDir"),
        nBuckets = nBuckets, maxFilesPerTrigger = mft, resumeMode = mode,
        clientId = a.get("client:"))
      supervise match {
        case Some(n) =>
          val r = CdcIngestJob.runSupervised(spark, icfg, maxRestarts = n,
            onRestart = (i, e) => println(
              s"[stream] attempt failed (${e.getClass.getSimpleName}: " +
                s"${String.valueOf(e.getMessage).take(120)}); restart #$i " +
                "from checkpoint"))
          println(s"[stream] done after $r restart(s); lake at $lakeRoot " +
            s"(nBuckets=$nBuckets)")
        case None =>
          CdcIngestJob.runStream(spark, icfg).awaitTermination()
          println(s"[stream] done; lake at $lakeRoot (nBuckets=$nBuckets)")
      }
      spark.stop()

    case "register" =>
      // registry is independent of snapshots: registering must NOT stamp a
      // bucket count onto a lake that hasn't been initialized yet
      val lake = openLake(a("lakeRoot"))
      lake.subscribers.registerClient(a("clientId"))
      println(s"[register] clients at ${a("lakeRoot")}: " +
        lake.subscribers.registeredClients().toSeq.sorted.mkString(", "))

    case "clients" => // D10 liveness; prune:<sec> = dead-client GC
      val pruneTtlSec = a.long("prune:", lo = 0L, hi = Long.MaxValue / 1000)
      val lake = openLake(a("lakeRoot"))
      pruneTtlSec.foreach { sec =>
        val dead = lake.subscribers.pruneDeadClients(sec * 1000L)
        println(s"[clients] pruned ${dead.size} dead: ${dead.toSeq.sorted.mkString(", ")}")
      }
      Describe.clientLines(lake).foreach(l => println(s"[clients] $l"))

    case "vacuum" =>
      // full orphan sweep, O(table); refused while a live stream holds a
      // fresh writer lease (the sweep would delete a mid-batch commit's
      // uncommitted files); `force` overrides for a wedged lease the
      // operator KNOWS is dead
      val lake = openLake(a("lakeRoot"))
      lake.vacuum(leaseTtlMs = if (a.has("force")) 0L else 120000L)
      println(s"[vacuum] swept orphans at ${a("lakeRoot")}")

    case "show" =>
      val lakeRoot = a("lakeRoot")
      val n = a.int("n", lo = 0).getOrElse(10)
      val spark = session()
      val lake = openLake(lakeRoot, 32)
      val snap = lake.latest().getOrElse(noLake(lakeRoot))
      val df = lake.read(spark, snap)
      println(s"[show] snapshot=${snap.id} batchId=${snap.batchId} " +
        s"schemaVersion=${snap.schemaVersion} files=${snap.files.size} " +
        s"lastOffset=${snap.lastOffset.map(_.render).getOrElse("-")}")
      println(s"[show] rows=${df.count()}")
      showRows(df, n)
      spark.stop()

    case "get" =>
      // point lookup: O(bucket-range files) planned, never O(table) —
      // `filesPlanned` makes the pruning visible to the operator. The
      // bucket computation is a pure function of the stored count.
      val (lakeRoot, repo, path) = (a("lakeRoot"), a("repo"), a("path"))
      val asof = a.long("asof:", lo = 0L)
      val spark = session()
      val lake = openLake(lakeRoot, noLake(lakeRoot))
      val snap = asof.map(lake.snapshotAt)
        .getOrElse(lake.latest().getOrElse(noLake(lakeRoot)))
      val n = snap.nBuckets
      val df = lake.readKey(spark, snap, repo, path)
      println(s"[get] snapshot=${snap.id} " +
        s"bucket=${GraftLake.bucketOf(repo, path, n)}/$n " +
        s"filesPlanned=${df.inputFiles.length}/${snap.files.size}")
      df.show(truncate = false)
      spark.stop()

    case "rebucket" =>
      // offline bucket-count migration: one full rewrite; reopen any
      // running stream afterwards (it fails closed on the old count)
      val lakeRoot = a("lakeRoot")
      val newN = a.int("newN").get
      val spark = session()
      val lake = openLake(lakeRoot, noLake(lakeRoot))
      refuseUnderLiveWriter(lake, lakeRoot, "rebucket")
      val s = lake.rebucket(spark, newN)
      println(s"[rebucket] snapshot=${s.id} nBuckets=${s.nBuckets} " +
        s"files=${s.files.size} rows=${s.metrics.getOrElse("rowsWritten", 0L)}")
      spark.stop()

    case "optimize" =>
      // offline full compaction (stream stopped): drains ALL delta debt in
      // bounded commits; `describe` afterwards shows zero debt ranges.
      // Fence/lineage/offsets are untouched — resume the stream as-is.
      // feed:<dir> supplies the tombstone GC horizon (the retained feed's
      // minimum offset — the same O3 bound the streaming fold uses), so an
      // offline optimize can finally drop long-expired tombstones too.
      val lakeRoot = a("lakeRoot")
      val budget = a.int("maxBucketsPerCommit").getOrElse(64)
      val spark = session()
      val horizon = a.get("feed:").map(CdcIngestJob.feedOffsetRange(spark, _)._1)
      val lake = openLake(lakeRoot, noLake(lakeRoot))
      refuseUnderLiveWriter(lake, lakeRoot, "optimize")
      val r = graft.merge.MergeApply.optimize(spark, lake, budget, horizon)
      println(s"[optimize] commits=${r.commits} " +
        s"foldedBuckets=${r.foldedBuckets} splitFiles=${r.splitFiles} " +
        s"rowsRewritten=${r.rowsRewritten}")
      spark.stop()

    case "expire" =>
      val lakeRoot = a("lakeRoot")
      val k = a.int("keep").get
      val lake = openLake(lakeRoot)
      // a live stream runs its own per-commit expire, serialized with its
      // commits; a CONCURRENT manual trim could drop an anchor (and its
      // now-unshared segment files) that the stream's in-flight full-form
      // publish is reusing as its reference base
      refuseUnderLiveWriter(lake, lakeRoot, "expire")
      lake.expire(k)
      // the retention floor may keep more than `keep` (down to the newest
      // full base at or below the cut): report what is actually retained
      val latest = lake.latest().getOrElse(noLake(lakeRoot))
      val oldest = lake.oldestRetainedId().getOrElse(latest.id)
      println(s"[expire] retained snapshots $oldest..${latest.id} " +
        s"(${latest.id - oldest + 1}) at $lakeRoot")

    case "log" =>
      // retained snapshot history: the valid bounds for `show`-as-of /
      // `changes` windows, with each commit's headline lineage counters
      openLake(a("lakeRoot")).snapshotLog().foreach { s =>
        val m = s.metrics
        println(s"[log] snapshot=${s.id} batchId=${s.batchId} " +
          s"schemaVersion=${s.schemaVersion} " +
          s"lastOffset=${s.lastOffset.map(_.render).getOrElse("-")} " +
          s"applied=${m.getOrElse("applied", 0L)} " +
          s"rowsWritten=${m.getOrElse("rowsWritten", 0L)} " +
          s"compactedBuckets=${m.getOrElse("compactedBuckets", 0L)}")
      }

    case "changes" =>
      // CDC-out: net per-key changes between two snapshots (downstream
      // consumers chain off the lake without replaying the feed)
      val fromId = a.long("fromSnap", lo = 0L).get
      val toId = a.long("toSnap", lo = 0L).get
      val n = a.int("n", lo = 0).getOrElse(10)
      val spark = session()
      val lake = openLake(a("lakeRoot"), 32)
      val df = lake.changesBetween(spark, fromId, toId)
      println(s"[changes] ($fromId, $toId] rows=${df.count()}")
      showRows(df, n)
      spark.stop()

    case "sync" =>
      // lake→lake changelog subscription: apply the source's new snapshots
      // into the destination (one commit per sync window, exactly-once);
      // follow:<ms> polls for new ones
      val (srcRoot, clientId) = (a("srcLake"), a.get("client:"))
      val pollMs = a.long("follow:")
      val spark = session()
      val src = openLake(srcRoot, noLake(srcRoot))
      val dst = openLake(a("dstLake"), src.nBuckets)
      // sweep orphans of a previously crashed sync; self = this chain's
      // lineage, so its own predecessor's lease never blocks the sweep
      dst.vacuum(self = graft.stream.ChangelogChain.lineageFor(src))
      pollMs match {
        case Some(ms) =>
          graft.stream.ChangelogChain.follow(spark, src, dst, ms, clientId,
            onSync = r => println(s"[sync] srcSnapshot=${r.srcSnapshot} " +
              s"rows=${r.rowsApplied} bootstrap=${r.bootstrapped}"))
        case None =>
          val r = graft.stream.ChangelogChain.sync(spark, src, dst, clientId)
          println(s"[sync] srcSnapshot=${r.srcSnapshot} rows=${r.rowsApplied} " +
            s"applied=${r.applied} bootstrap=${r.bootstrapped}")
      }
      spark.stop()

    case "tail" =>
      // the changelog as a live Structured Streaming SOURCE: each new
      // snapshot arrives as a micro-batch of net per-key changes
      // (ChangelogStreamSource); `cp:<dir>` resumes a previous tail
      // exactly-once from Spark's own checkpoint; credit:<k> = max
      // snapshots per micro-batch (D4), bootstrapBuckets:<k> serves the
      // bootstrap as bounded bucket-range batches
      val n = a.int("n", lo = 0).getOrElse(10)
      val forMs = a.long("for:").getOrElse(10000L)
      val options = Map("path" -> Some(a("lakeRoot")),
        "bootstrap" -> a.get("bootstrap:none").map(_ => "none"),
        "clientId" -> a.get("client:"),
        "maxSnapshotsPerTrigger" -> a.int("credit:").map(_.toString),
        "bootstrapBuckets" -> a.int("bootstrapBuckets:").map(_.toString))
      val cp = a.get("cp:").getOrElse(
        java.nio.file.Files.createTempDirectory("graft-tail-cp").toString)
      val spark = session()
      val q = spark.readStream.format("graft-changelog")
        .options(options.collect { case (k, Some(v)) => k -> v }).load()
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.persist() // one window scan serves both the count and the show
          try {
            val c = df.count()
            println(s"[tail] batch=$id rows=$c")
            if (c > 0 && n > 0)
              showRows(df, n)
          } finally { df.unpersist(); () }
        }.start()
      // print the resume hint even when the query fails (the evolution /
      // too-old refusals TELL the user to resume from this checkpoint)
      try q.awaitTermination(forMs)
      finally {
        scala.util.Try(q.stop())
        println(s"[tail] stopped (checkpoint at $cp — pass cp:$cp to resume)")
        spark.stop()
      }

    case "describe" =>
      // operator view: schema history + per-range compaction debt (the
      // reference exposes its store stats the same way — count-trim logs)
      val lake = openLake(a("lakeRoot"))
      val snap = lake.latest().getOrElse(noLake(a("lakeRoot")))
      Describe.lines(lake, snap).foreach(l => println(s"[describe] $l"))

    case "metrics" =>
      // per-batch lineage from the durable record: each retained
      // snapshot's scalar metrics (per-bucket row counts left out)
      val log = openLake(a("lakeRoot")).snapshotLog()
      if (log.isEmpty) println(s"no lake at ${a("lakeRoot")}")
      log.foreach { s =>
        val scalars = s.metrics.filterNot(_._1.startsWith("bucket."))
          .toSeq.sorted.map { case (k, v) => s"$k=$v" }
        println((s"[metrics] snapshot=${s.id} batchId=${s.batchId}" +:
          scalars).mkString(" "))
      }
  }
}
