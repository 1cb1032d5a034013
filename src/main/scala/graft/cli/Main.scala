package graft.cli

import graft.feed.BinlogFeedGen
import graft.feed.BinlogFeedGen.FeedConfig
import graft.model.Offset
import graft.stream.{CdcIngestJob, IngestConfig, ResumeMode}
import graft.table.GraftLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entrypoint (SURVEY.md §7.2): generate a feed, replay it
  * into the lake (batch or streaming), inspect the result.
  *
  * {{{
  *   Main gen    <feedDir> <nEvents> <nKeys> [skew] [dupTailFrac] [evolve]
  *   Main replay <feedDir> <lakeRoot> [nBuckets]      // one-shot batch merge
  *   Main stream <feedDir> <lakeRoot> <checkpointDir> [maxFilesPerTrigger]
  *                [continue|lastpos|from:<fileIdx_pos_rowIdx>|gtid:<seqId>]
  *                [client:<id>] [supervise:<maxRestarts>]  // D9 failover
  *   Main register <lakeRoot> <clientId>   // D10 identity registry
  *   Main clients  <lakeRoot> [prune:<ttlSec>]  // D10 liveness / dead-client GC
  *   Main show   <lakeRoot> [n]
  *   Main get    <lakeRoot> <repo> <path> [asof:<snapId>] // point lookup
  *   Main log    <lakeRoot>                 // retained snapshot history
  *   Main changes <lakeRoot> <fromSnap> <toSnap> [n]  // CDC-out changelog
  *   Main sync   <srcLake> <dstLake> [client:<id>] [follow:<pollMs>]
  *                                          // chain a lake off a lake
  *   Main tail   <lakeRoot> [n] [bootstrap:none] [client:<id>] [for:<ms>]
  *               [cp:<dir>] [credit:<k>]  // live-follow the changelog
  *                           // STREAM (readStream format graft-changelog;
  *                           // credit = max snapshots per micro-batch)
  *   Main describe <lakeRoot>               // schema history + debt views
  *   Main metrics <lakeRoot>                // per-snapshot scalar metrics
  *   Main vacuum <lakeRoot> [force]        // full orphan sweep (O(table));
  *                                         // refused under a live stream's
  *                                         // writer lease unless forced
  *   Main expire <lakeRoot> <keep>         // manual retention trim
  *   Main rebucket <lakeRoot> <newN>       // offline re-shard (full rewrite)
  *   Main optimize <lakeRoot> [maxBucketsPerCommit] [feed:<feedDir>]
  *                            // offline full compaction: fold ALL delta
  *                            // debt into key-clustered base files;
  *                            // feed:<dir> = drop tombstones below the
  *                            // retained feed's minimum offset (O3 bound)
  * }}}
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

  /** One numeric CLI argument, checked before any session starts: its
    * value when `raw` parses and lies in `[lo, hi]`, else an
    * IllegalArgumentException naming the verb and the argument. */
  private def numArg[T](verb: String, name: String, raw: String,
      parse: String => Option[T], lo: T, hi: T)(implicit ord: Ordering[T]): T =
    parse(raw).filter(v => ord.gteq(v, lo) && ord.lteq(v, hi))
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: $name needs a number in [$lo, $hi] (got '$raw')"))
  private def intArg(verb: String, name: String, raw: String, lo: Int = 1): Int =
    numArg(verb, name, raw, _.toIntOption, lo, Int.MaxValue)
  private def longArg(verb: String, name: String, raw: String, lo: Long = 1L,
      hi: Long = Long.MaxValue): Long =
    numArg(verb, name, raw, _.toLongOption, lo, hi)
  /** The first `n` rows of `df` in key order, `content` shown as its sha256. */
  private def showRows(df: DataFrame, n: Int): Unit =
    df.withColumn("sha", sha2(col("content"), 256)).drop("content")
      .orderBy("repo", "path").show(n, truncate = false)
  /** Rejects `extra`, the arguments a verb has no place for, before any
    * session starts: a typo or a surplus argument must fail, never run as
    * if it were absent (an unknown verb throws the same exception). */
  private def rejectExtra(verb: String, extra: Seq[String], expected: String): Unit =
    extra.headOption.foreach(a => throw new IllegalArgumentException(
      s"$verb: unknown argument '$a' (expected $expected)"))

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: feedDir :: n :: k :: rest =>
      val nl = longArg("gen", "nEvents", n)
      val nk = intArg("gen", "nKeys", k)
      val skew = rest.headOption.map(numArg("gen", "skew", _,
        _.toDoubleOption, 0.0, Double.MaxValue)).getOrElse(0.0)
      val dup = rest.drop(1).headOption.map(numArg("gen", "dupTailFrac", _,
        _.toDoubleOption, 0.0, 1.0)).getOrElse(0.0)
      // `evolve` = add+widen; `evolve-full` adds mid-feed RENAME and DROP
      // too, so the whole DDL surface is drivable from the CLI
      val evolve = rest.drop(2).headOption.getOrElse("")
      rejectExtra("gen", rest.drop(2).take(1).filterNot(Set("evolve", "evolve-full")) ++
        rest.drop(3), "[skew] [dupTailFrac] [evolve|evolve-full]")
      val ddls = evolve match {
        case "evolve" => BinlogFeedGen.evolutionDdls(nl)
        case "evolve-full" => BinlogFeedGen.evolutionDdls(nl) ++ Map(
          (nl * 4 / 5) -> graft.model.DdlChange("rename_column", "size", "", "bytes"),
          (nl * 9 / 10) -> graft.model.DdlChange("drop_column", "lang", "", ""))
        case _ => Map.empty[Long, graft.model.DdlChange]
      }
      val cfg = FeedConfig(nl, nk, skew = skew, dupTailFrac = dup,
        ddlAt = ddls)
      val spark = session(feedScans = true)
      BinlogFeedGen.writeFeed(spark, cfg, feedDir)
      println(s"[gen] wrote $n events (${k} keys, skew=$skew, dup=$dup, " +
        s"ddls=${ddls.size}) to $feedDir")
      spark.stop()

    case "replay" :: feedDir :: lakeRoot :: rest =>
      rejectExtra("replay", rest.drop(1), "[nBuckets]")
      val pinned = rest.headOption.map(intArg("replay", "nBuckets", _))
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

    case "stream" :: feedDir :: lakeRoot :: cp :: rest0 =>
      val clientId = rest0.find(_.startsWith("client:")).map(_.stripPrefix("client:"))
      // D9: supervise:<n> relaunches the stream from its checkpoint on
      // failure, up to n consecutive unproductive restarts (the reference
      // client's reconnect-and-re-register failover loop)
      val supervise = rest0.find(_.startsWith("supervise:"))
        .map(a => intArg("stream", "supervise:", a.stripPrefix("supervise:"), lo = 0))
      val rest = rest0.filterNot(s =>
        s.startsWith("client:") || s.startsWith("supervise:"))
      // positional args are (maxFilesPerTrigger, mode) but mode tokens are
      // recognizable fixed strings, so `stream feed lake cp lastpos` (no
      // trigger size) parses as a mode, not a NumberFormatException
      def isMode(s: String) = s == "continue" || s == "lastpos" ||
        s.startsWith("from:") || s.startsWith("gtid:")
      val (modeArgs, numArgs) = rest.partition(isMode)
      rejectExtra("stream", numArgs.drop(1) ++ modeArgs.drop(1),
        "at most one [maxFilesPerTrigger] and one mode")
      val mft = numArgs.headOption.map(intArg("stream", "maxFilesPerTrigger", _))
        .getOrElse(8)
      val mode = modeArgs.headOption.getOrElse("lastpos") match {
        case "continue" => ResumeMode.Continue
        case s if s.startsWith("from:") => ResumeMode.FromPos(Offset.parse(s.stripPrefix("from:")))
        case s if s.startsWith("gtid:") => ResumeMode.FromGtid(s.stripPrefix("gtid:"))
        case _ => ResumeMode.LastPos
      }
      val spark = session(feedScans = true)
      val nBuckets = GraftLake.storedBuckets(lakeRoot).getOrElse(32)
      val icfg = IngestConfig(feedDir, lakeRoot, cp,
        nBuckets = nBuckets, maxFilesPerTrigger = mft, resumeMode = mode,
        clientId = clientId)
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

    case "register" :: lakeRoot :: clientId :: rest =>
      rejectExtra("register", rest, "nothing after <clientId>")
      // registry is independent of snapshots: registering must NOT stamp a
      // bucket count onto a lake that hasn't been initialized yet
      val lake = openLake(lakeRoot)
      lake.subscribers.registerClient(clientId)
      println(s"[register] clients at $lakeRoot: " +
        lake.subscribers.registeredClients().toSeq.sorted.mkString(", "))

    case "clients" :: lakeRoot :: rest if rest.size <= 1 =>
      // a typo'd `prune:` must not silently list without pruning
      rejectExtra("clients", rest.filterNot(_.startsWith("prune:")), "prune:<sec>")
      val pruneTtlSec = rest.headOption.map(p => longArg("clients", "prune:",
        p.stripPrefix("prune:"), lo = 0L, hi = Long.MaxValue / 1000))
      val lake = openLake(lakeRoot)
      pruneTtlSec.foreach { sec =>
        val ttlMs = sec * 1000L
        val dead = lake.subscribers.pruneDeadClients(ttlMs)
        println(s"[clients] pruned ${dead.size} dead: ${dead.toSeq.sorted.mkString(", ")}")
      }
      Describe.clientLines(lake).foreach(l => println(s"[clients] $l"))

    case "vacuum" :: lakeRoot :: rest if rest.size <= 1 =>
      // refused while a live stream holds a fresh writer lease (the sweep
      // would delete a mid-batch commit's uncommitted files); `force`
      // overrides for a wedged lease the operator KNOWS is dead
      rejectExtra("vacuum", rest.filterNot(_ == "force"), "force")
      val lake = openLake(lakeRoot)
      lake.vacuum(leaseTtlMs = if (rest.contains("force")) 0L else 120000L)
      println(s"[vacuum] swept orphans at $lakeRoot")

    case "show" :: lakeRoot :: rest =>
      rejectExtra("show", rest.drop(1), "[n]")
      val n = rest.headOption.map(intArg("show", "n", _, lo = 0)).getOrElse(10)
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

    case "get" :: lakeRoot :: repo :: path :: rest if rest.size <= 1 =>
      // point lookup: O(bucket-range files) planned, never O(table) —
      // `filesPlanned` makes the pruning visible to the operator. The
      // bucket computation is a pure function of the stored count.
      // a typo'd as-of must not silently answer "latest"
      rejectExtra("get", rest.filterNot(_.startsWith("asof:")), "asof:<snapId>")
      val asof = rest.headOption.map(a =>
        longArg("get", "asof:", a.stripPrefix("asof:"), lo = 0L))
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

    case "rebucket" :: lakeRoot :: n :: rest =>
      rejectExtra("rebucket", rest, "nothing after <newN>")
      // offline bucket-count migration: one full rewrite; reopen any
      // running stream afterwards (it fails closed on the old count)
      val newN = intArg("rebucket", "newN", n)
      val spark = session()
      val lake = openLake(lakeRoot, noLake(lakeRoot))
      refuseUnderLiveWriter(lake, lakeRoot, "rebucket")
      val s = lake.rebucket(spark, newN)
      println(s"[rebucket] snapshot=${s.id} nBuckets=${s.nBuckets} " +
        s"files=${s.files.size} rows=${s.metrics.getOrElse("rowsWritten", 0L)}")
      spark.stop()

    case "optimize" :: lakeRoot :: rest0 =>
      // offline full compaction (stream stopped): drains ALL delta debt in
      // bounded commits; `describe` afterwards shows zero debt ranges.
      // Fence/lineage/offsets are untouched — resume the stream as-is.
      // feed:<dir> supplies the tombstone GC horizon (the retained feed's
      // minimum offset — the same O3 bound the streaming fold uses), so an
      // offline optimize can finally drop long-expired tombstones too.
      val (feedArgs, budgetArgs) = rest0.partition(_.startsWith("feed:"))
      rejectExtra("optimize", budgetArgs.drop(1) ++ feedArgs.drop(1),
        "at most one [maxBucketsPerCommit] and one [feed:<feedDir>]")
      val budget = budgetArgs.headOption
        .map(intArg("optimize", "maxBucketsPerCommit", _)).getOrElse(64)
      val spark = session()
      val horizon = feedArgs.headOption.map { a =>
        CdcIngestJob.feedOffsetRange(spark, a.stripPrefix("feed:"))._1
      }
      val lake = openLake(lakeRoot, noLake(lakeRoot))
      refuseUnderLiveWriter(lake, lakeRoot, "optimize")
      val r = graft.merge.MergeApply.optimize(spark, lake, budget, horizon)
      println(s"[optimize] commits=${r.commits} " +
        s"foldedBuckets=${r.foldedBuckets} splitFiles=${r.splitFiles} " +
        s"rowsRewritten=${r.rowsRewritten}")
      spark.stop()

    case "expire" :: lakeRoot :: keep :: rest =>
      rejectExtra("expire", rest, "nothing after <keep>")
      val k = intArg("expire", "keep", keep)
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

    case "log" :: lakeRoot :: rest =>
      rejectExtra("log", rest, "nothing after <lakeRoot>")
      // retained snapshot history: the valid bounds for `show`-as-of /
      // `changes` windows, with each commit's headline lineage counters
      val lake = openLake(lakeRoot)
      lake.snapshotLog().foreach { s =>
        val m = s.metrics
        println(s"[log] snapshot=${s.id} batchId=${s.batchId} " +
          s"schemaVersion=${s.schemaVersion} " +
          s"lastOffset=${s.lastOffset.map(_.render).getOrElse("-")} " +
          s"applied=${m.getOrElse("applied", 0L)} " +
          s"rowsWritten=${m.getOrElse("rowsWritten", 0L)} " +
          s"compactedBuckets=${m.getOrElse("compactedBuckets", 0L)}")
      }

    case "changes" :: lakeRoot :: from :: to :: rest if rest.size <= 1 =>
      // CDC-out: net per-key changes between two snapshots (downstream
      // consumers chain off the lake without replaying the feed)
      val fromId = longArg("changes", "fromSnap", from, lo = 0L)
      val toId = longArg("changes", "toSnap", to, lo = 0L)
      val n = rest.headOption.map(intArg("changes", "n", _, lo = 0)).getOrElse(10)
      val spark = session()
      val lake = openLake(lakeRoot, 32)
      val df = lake.changesBetween(spark, fromId, toId)
      println(s"[changes] ($from, $to] rows=${df.count()}")
      showRows(df, n)
      spark.stop()

    case "sync" :: srcRoot :: dstRoot :: rest if rest.size <= 2 =>
      // lake→lake changelog subscription: apply the source's new snapshots
      // into the destination (one commit per sync window, exactly-once).
      // A typo must not run silently: `folow:100` would sync once instead
      // of following, `clientid:x` would sync without the client check
      rejectExtra("sync", rest.filterNot(a => a.startsWith("client:") ||
        a.startsWith("follow:")), "[client:<id>] [follow:<pollMs>]")
      val clientId = rest.find(_.startsWith("client:")).map(_.stripPrefix("client:"))
      val pollMs = rest.find(_.startsWith("follow:"))
        .map(a => longArg("sync", "follow:", a.stripPrefix("follow:")))
      val spark = session()
      val src = openLake(srcRoot, noLake(srcRoot))
      val dst = openLake(dstRoot, src.nBuckets)
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

    case "tail" :: lakeRoot :: rest =>
      // the changelog as a live Structured Streaming SOURCE: each new
      // snapshot arrives as a micro-batch of net per-key changes
      // (ChangelogStreamSource); `cp:<dir>` resumes a previous tail
      // exactly-once from Spark's own checkpoint
      // a silently-dropped typo is dangerous here: `clientid:x` for
      // `client:x` would run UNGATED against a registry-protected lake,
      // `credits:4` would tail without flow control. Unknown tokens,
      // non-positive numeric values and a second token of one kind (a
      // "n", an option prefix) are all rejected before any session starts
      val usage = "[n] [bootstrap:none] [client:<id>] [for:<ms>] [cp:<dir>] " +
        "[credit:<k>] [bootstrapBuckets:<k>]"
      def kindOf(t: String): String = if (t.toIntOption.isDefined) "n"
        else Seq("client:", "cp:", "for:", "credit:", "bootstrapBuckets:")
          .find(t.startsWith).getOrElse(t)
      rest.zipWithIndex.foreach { case (t, i) =>
        kindOf(t) match {
          case "n" | "bootstrap:none" | "client:" | "cp:"
              if t.toIntOption.forall(_ >= 0) => ()
          case "for:" => longArg("tail", "for:", t.stripPrefix("for:"))
          case p @ ("credit:" | "bootstrapBuckets:") =>
            intArg("tail", p, t.stripPrefix(p))
          case _ => rejectExtra("tail", Seq(t), usage)
        }
        if (rest.take(i).map(kindOf).contains(kindOf(t)))
          rejectExtra("tail", Seq(t), s"at most one of each: $usage")
      }
      val spark = session()
      val n = rest.flatMap(_.toIntOption).headOption.getOrElse(10)
      val forMs = rest.find(_.startsWith("for:"))
        .map(_.stripPrefix("for:").toLong).getOrElse(10000L)
      val cp = rest.find(_.startsWith("cp:")).map(_.stripPrefix("cp:"))
        .getOrElse(java.nio.file.Files
          .createTempDirectory("graft-tail-cp").toString)
      var r = spark.readStream.format("graft-changelog")
        .option("path", lakeRoot)
      if (rest.contains("bootstrap:none")) r = r.option("bootstrap", "none")
      rest.find(_.startsWith("client:"))
        .foreach(c => r = r.option("clientId", c.stripPrefix("client:")))
      rest.find(_.startsWith("credit:")).foreach(c => // D4: bounded catch-up
        r = r.option("maxSnapshotsPerTrigger", c.stripPrefix("credit:")))
      rest.find(_.startsWith("bootstrapBuckets:")).foreach(c => // chunked
        // bootstrap: full state served as bounded bucket-range batches
        r = r.option("bootstrapBuckets", c.stripPrefix("bootstrapBuckets:")))
      val q = r.load().writeStream
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

    case "describe" :: lakeRoot :: rest =>
      rejectExtra("describe", rest, "nothing after <lakeRoot>")
      // operator view: schema history + per-range compaction debt (the
      // reference exposes its store stats the same way — count-trim logs)
      val lake = openLake(lakeRoot)
      val snap = lake.latest().getOrElse(noLake(lakeRoot))
      Describe.lines(lake, snap).foreach(l => println(s"[describe] $l"))

    case "metrics" :: lakeRoot :: rest =>
      rejectExtra("metrics", rest, "nothing after <lakeRoot>")
      // per-batch lineage from the durable record: each retained
      // snapshot's scalar metrics (per-bucket row counts left out)
      val lake = openLake(lakeRoot)
      val log = lake.snapshotLog()
      if (log.isEmpty) println(s"no lake at $lakeRoot")
      log.foreach { s =>
        val scalars = s.metrics.filterNot(_._1.startsWith("bucket."))
          .toSeq.sorted.map { case (k, v) => s"$k=$v" }
        println((s"[metrics] snapshot=${s.id} batchId=${s.batchId}" +:
          scalars).mkString(" "))
      }

    case other =>
      throw new IllegalArgumentException(
        s"unknown verb or wrong number of arguments: ${other.mkString(" ")}")
  }
}
