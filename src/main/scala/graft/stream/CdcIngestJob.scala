package graft.stream

import graft.feed.FeedReader
import graft.merge.MergeApply
import graft.model.{Offset, Op}
import graft.model.Schemas.keyCols
import graft.table.{GraftLake, MetaStore, SchemaEvolution}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Resume offset is older than the retained feed — the reference rejects
  * the subscription rather than silently skipping (O3;
  * server/infoPersistent/BinlogDataStorageWithLevelDB.java:262-289,
  * base/exceptions/TooOldSeqIdException.java). */
final class TooOldOffsetException(msg: String) extends RuntimeException(msg)

/** The CDC ingest pipeline: one microbatch = decode → filter → schema-evolve
  * → LWW dedup → MERGE → atomic snapshot commit → (engine) checkpoint.
  * The business-then-barrier ordering of the reference's Disruptor
  * (client/akkaSystem/SingleTableBinlogClientActor.java:83-91) maps to
  * "merge publishes, then offsets commit" (SURVEY.md §3.3). */
object CdcIngestJob {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.stream.CdcIngestJob")

  /** Lake roots whose last SPECULATIVE fold was discarded, keyed to the
    * parent snapshot id it ran against: re-kicking the identical plan
    * against the identical snapshot would just rewrite and re-delete the
    * same buckets every batch while a spec sees only empty batches (a
    * multi-table stream whose traffic is another table's). Skipping the
    * kick defers the fold to the next COMMITTING batch, where its output
    * could ride anyway. Process-local: a fresh process re-runs one
    * speculative fold at worst. */
  private val discardedFoldAt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** binlog file index as embedded in feed paths (`_file=fNNNNN[-replay]`) */
  private val fileIdxRe = "_file=f(\\d+)".r

  /** The parquet files backing a (micro)batch, from driver-side metadata
    * only (no job). `inputFiles` covers batch reads (LogicalRelation);
    * foreachBatch hands the microbatch over as a pre-planned [[LogicalRDD]]
    * (Spark plans the source once and shares the RDD across sinks), whose
    * file list survives in the FileScanRDD's partitions — walk the RDD
    * lineage to it. Empty result = shape unknown, caller must scan. */
  private def batchFiles(batch: DataFrame): Seq[String] = {
    val viaRelation = batch.inputFiles
    if (viaRelation.nonEmpty) viaRelation.toSeq
    else {
      import org.apache.spark.sql.execution.LogicalRDD
      import org.apache.spark.sql.execution.datasources.FileScanRDD
      def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Seq[String] = r match {
        case f: FileScanRDD =>
          f.filePartitions.flatMap(_.files.map(_.filePath.toString))
        case _ if depth < 8 =>
          r.dependencies.flatMap(d => walk(d.rdd, depth + 1)).toSeq
        case _ => Nil
      }
      batch.queryExecution.analyzed.collectLeaves().flatMap {
        case l: LogicalRDD => walk(l.rdd, 0)
        case _ => Nil
      }
    }
  }

  /** min/max offsets present in the retained feed. Partition-pruned: the
    * binlog file index IS the `_file` partition directory, so only the
    * first and last retained files are scanned (at 10^10-event scale a
    * full-feed min/max job before the first batch is a non-starter). */
  def feedOffsetRange(spark: SparkSession, feedDir: String): (Offset, Offset) = {
    val fp = new org.apache.hadoop.fs.Path(feedDir)
    val fs = fp.getFileSystem(GraftLake.hadoopConf())
    val idxs = (if (fs.exists(fp)) fs.listStatus(fp).toSeq else Nil)
      .map(_.getPath.getName).filter(_.startsWith("_file=f"))
      .map(_.stripPrefix("_file=f").takeWhile(_.isDigit))
      .filter(_.nonEmpty).map(_.toLong)
    require(idxs.nonEmpty, s"no feed files under $feedDir")
    val (lo, hi) = (idxs.min, idxs.max)
    val keep = Seq(f"f$lo%05d", f"f$lo%05d-replay", f"f$hi%05d", f"f$hi%05d-replay")
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("graft: feed range")
    val r =
      try FeedReader.readBatch(spark, feedDir)
        .filter(col("_file").isin(keep: _*))
        .agg(min(col("offset")).as("lo"), max(col("offset")).as("hi"))
        .collect()(0)
      finally sc.setJobDescription(prevDesc)
    (Offset.fromRow(r.getStruct(0)), Offset.fromRow(r.getStruct(1)))
  }

  /** [[feedOffsetRange]], or None when the feed has no files yet. */
  private def feedRangeIfAny(spark: SparkSession,
      feedDir: String): Option[(Offset, Offset)] =
    try Some(feedOffsetRange(spark, feedDir))
    catch { case _: Throwable => None }

  /** O3 guard. `strict` (user-supplied FROM_POS): any resume offset inside
    * a trimmed file is a hard error — the remainder of that file is gone
    * (reference BinlogDataStorageWithLevelDB.tooOldSeqId rejects anything
    * strictly older than the first retained seqId). The only allowed
    * sub-minimum offset is the explicit end-of-file sentinel
    * `(feedMin.fileIdx - 1, Long.MaxValue, *)`: nothing can follow it in
    * its file, so nothing was missed. Non-strict (LAST_POS): lake/checkpoint
    * lastOffsets are end-of-batch positions of fully-processed files, so
    * one file of slack is sound. */
  def guardTooOld(from: Offset, feedMin: Offset, strict: Boolean = true): Unit = {
    val missed =
      if (strict)
        from.fileIdx < feedMin.fileIdx &&
          !(from.fileIdx + 1 == feedMin.fileIdx && from.pos == Long.MaxValue)
      else from.fileIdx + 1 < feedMin.fileIdx
    if (missed)
      throw new TooOldOffsetException(
        s"resume offset ${from.render} is older than the retained feed " +
        s"(earliest ${feedMin.render}) — events were trimmed")
  }

  /** Resolve the resume mode to an optional lower-bound offset filter.
    * The feed range scan (partition-pruned to two files) only runs for
    * modes that need it — a fresh LAST_POS start skips it.
    *
    * LAST_POS over an existing lake returns the lake's `lastOffset` as a
    * data-level bound: exactly-once must not hinge on streaming batchId
    * numbering (a recreated checkpoint restarts ids at 0 — see the lineage
    * fence in [[applyTableBatch]]); events at or below the lake's
    * lastOffset are already applied, so they are filtered regardless of
    * how the new checkpoint numbers its batches. */
  def resolveStart(spark: SparkSession, cfg: IngestConfig,
      lake: GraftLake,
      preRange: => Option[(Offset, Offset)] = None): Option[Offset] = {
    // one pruned range scan per job start, shared across modes and (via
    // `preRange`) across subscriptions and the tombstone horizon — not one
    // per lake per concern
    lazy val range = preRange.getOrElse(feedOffsetRange(spark, cfg.feedDir))
    cfg.resumeMode match {
      case ResumeMode.Continue =>
        Some(range._2) // only events > now
      case ResumeMode.FromPos(o) =>
        guardTooOld(o, range._1, strict = true)
        Some(o)
      case ResumeMode.FromGtid(g) =>
        val o = cfg.gtidMap.getOrElse(g, Offset.parse(g))
        guardTooOld(o, range._1, strict = true)
        Some(o)
      case ResumeMode.LastPos =>
        lake.latest().flatMap(_.lastOffset) match {
          case Some(last) => // resuming into an existing table: O3 guard
            guardTooOld(last, range._1, strict = false)
            Some(last)
          case None => None // fresh start: nothing to guard, no scan
        }
    }
  }

  /** The per-checkpoint lineage id: streaming batchIds are only comparable
    * within one checkpoint lineage, so the replay fence must be scoped to
    * it (a fresh checkpoint over an existing lake would otherwise have its
    * first batches wrongly skipped as "replayed" — silent data loss). */
  def checkpointLineage(checkpointDir: String): String = {
    // a blank (torn) file must not read as lineage "": that is
    // replayBatch's, and would re-arm the bare-batchId fence against a
    // replay-populated lake
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "graft-lineage")
    MetaStore.at(p).writeOnce(p, s => Some(s).filter(_.nonEmpty))(
      java.util.UUID.randomUUID().toString)
  }

  /** Apply one (micro)batch for one watched table. Returns metrics;
    * replayed batchIds within the same checkpoint lineage are fenced and
    * no-op (exactly-once commit).
    *
    * @param tombstoneHorizon the retained feed's minimum offset (the O3
    *   bound) — compaction physically drops `_deleted` winners below it,
    *   since nothing that old can ever be re-delivered. None = keep all
    *   tombstones (safe, unbounded under delete churn). By name: only a
    *   batch that folds evaluates it.
    * The decoded batch is deliberately NOT cached between its two
    *   consumers (keyed scan, winner fetch): a columnar-cache round trip
    *   of ~1M decoded rows measured SLOWER than the second snappy-parquet
    *   scan it saves (tmpfs/page-cache reads are already memory-speed, and
    *   the cache pays serialize + store + deserialize on the hot path). */
  def applyTableBatch(spark: SparkSession, lake: GraftLake, spec: TableSpec,
      batch: DataFrame, batchId: Long, fromPos: Option[Offset],
      lineage: String, broadcastKeyLimit: Long,
      tombstoneHorizon: => Option[Offset] = None): BatchMetrics = {
    val t0 = System.nanoTime()
    val snap = lake.latest().getOrElse(
      throw new IllegalStateException("lake not initialized"))
    // exactly-once fence — on (lineage, batchId), never batchId alone:
    // ids restart at 0 in a fresh checkpoint, so a bare `batchId` fence
    // would skip genuinely-new batches (data loss). Cross-lineage replays
    // are instead absorbed by the offset bound (resolveStart) plus the
    // merge's idempotence.
    if (snap.lineage == lineage && snap.batchId >= batchId) {
      // a fenced batch commits no snapshot, so it leaves no metrics
      // record: log it — fenced skips are exactly what an operator audits
      // after a crash-restart
      log.warn(s"${lake.root}: batch $batchId of lineage '$lineage' already " +
        s"committed (snapshot ${snap.id}); fenced replay skipped")
      return BatchMetrics(batchId, 0, 0, 0, 0, 0, 0, 0, 0, replayedSkip = true)
    }

    // A batch whose every input file precedes the resume bound cannot
    // contribute a single event — and the binlog file index is embedded in
    // the feed's directory layout (`_file=fNNNNN[-replay]`), so that is
    // decidable from the batch's file list alone, no Spark job. Without
    // this, a resume near the tip of a long retained feed pays a full
    // scheduler round (plan + metadata-only scan, ~0.5s) for EVERY
    // already-applied file window the source re-delivers — at
    // maxFilesPerTrigger=4 over a 10^6-file retained feed that is days of
    // pure no-op batches before the first real event.
    val allFilesBelowBound = fromPos.exists { o =>
      try {
        val files = batchFiles(batch)
        files.nonEmpty && files.forall { p =>
          fileIdxRe.findFirstMatchIn(p).exists(_.group(1).toLong < o.fileIdx)
        }
      } catch { case _: Throwable => false } // unknown plan shape: scan
    }
    if (allFilesBelowBound)
      return BatchMetrics(batchId, 0, 0, 0, 0, 0, 0,
        (System.nanoTime() - t0) / 1000000L, 0, replayedSkip = false)

    def decoded(src: DataFrame): DataFrame = {
      val bounded = fromPos match {
        // the struct comparison itself cannot push to parquet; its implied
        // leaf-field bound on fileIdx can — row-group stats then skip
        // every already-applied binlog file without reading data, which
        // turns a resume-near-the-tip over a huge retained feed (and each
        // streaming skip batch) into a metadata-only scan
        case Some(o) => src.filter(
          col("offset.fileIdx") >= o.fileIdx && col("offset") > Offset.literal(o))
        case None => src
      }
      val accepted = bounded.filter(
        FeedReader.watched(spec.db, spec.table) &&
          FeedReader.acceptOps(spec.acceptOps))
      // F4: user predicate (Catalyst-compiled); DDL is control flow
      val filtered = spec.filterSql match {
        case Some(sql) => accepted.filter(col("op") === Op.Ddl || expr(sql))
        case None => accepted
      }
      FeedReader.decode(filtered, spec.excludedCols)
    }

    // Fold/split PRE-EXISTING delta debt concurrently with the WHOLE batch
    // pipeline (keyed stats scan + winner fetch + delta write). The plan's
    // input is the PARENT snapshot's files only, so the pipelines touch
    // disjoint file sets and any interleaving is safe; this batch's own
    // deltas fold on a later commit (debt is bounded by one batch either
    // way). Kicked SPECULATIVELY at batch start — before the stats scan
    // says whether the batch will commit — because the fold's ~1-3s stage
    // chain only fully hides when it overlaps the stats scan too (kicked
    // after the stats collect, it races only the write and adds its tail
    // to every compacting batch). A
    // batch that turns out to be a pure no-op discards the fold's
    // uncommitted output files eagerly (lake.discardFiles below), so the
    // no-fold-only-commit law (DeltaCompactionSpec) still holds
    // observably. Under FIFO job scheduling the stats scan and the fold
    // interleave at task granularity — the fold fills slots the chain's
    // stage boundaries leave idle.
    // `plan.split` is the L0→L1 tier for delta ranges wider than the fold
    // budget — fold and split touch disjoint files by
    // construction, so both ride this commit. Fold output files are read
    // with — and stamped as — the PARENT snapshot's schema version; a DDL
    // arriving in this same batch just means the fold output carries the
    // pre-DDL version, exactly as if it had folded one commit earlier
    // (aligned reads upcast mixed versions).
    val plan: MergeApply.CompactionPlan = {
      val p = MergeApply.compactionPlan(snap.files, spec.compactFactor,
        spec.maxDeltaFiles, spec.maxCompactBuckets)
      // identical parent snapshot to a previously DISCARDED speculative
      // fold => identical plan => don't churn; fold when something commits
      if (Option(discardedFoldAt.get(lake.root)).contains(snap.id))
        MergeApply.CompactionPlan.empty
      else p
    }
    val foldFut: scala.concurrent.Future[
        (MergeApply.CompactResult, MergeApply.CompactResult)] =
      if (plan.isEmpty)
        scala.concurrent.Future.successful(
          (MergeApply.CompactResult(Nil, Set.empty, 0L),
            MergeApply.CompactResult(Nil, Set.empty, 0L)))
      else scala.concurrent.Future {
        // runs on a non-Spark thread: local properties don't inherit
        spark.sparkContext.setJobDescription(s"graft b$batchId: fold/split")
        MergeApply.runPlan(spark, lake, snap, plan, batchId, tombstoneHorizon)
      }(scala.concurrent.ExecutionContext.global)

    val decodedBatch = decoded(batch)
    val stats = BatchStats.scan(spark, decodedBatch, snap, lake.nBuckets,
      spec.camelize, batchId)
    val tStats = (System.nanoTime() - t0) / 1000000L

    // schema evolution resolved BEFORE the merge plan (SURVEY.md §4.4.7).
    // Adds/widens are forward-compatible and drops/renames are resolved by
    // field id at read time, so parsing the whole batch with the
    // end-of-batch schema is equivalent to per-event catalog refresh.
    // The version history anchors field-id minting (dropped ids never
    // reused); it is parsed only when the batch actually carries DDLs.
    val curSchema = lake.currentSchema(snap)
    val newSchema = SchemaEvolution.fold(curSchema, stats.ddls, snap.schemas.values)
    val evolved = newSchema != curSchema
    val (schemas, schemaVersion) =
      if (evolved) (snap.schemas + ((snap.schemaVersion + 1).toString -> newSchema.json),
        snap.schemaVersion + 1)
      else (snap.schemas, snap.schemaVersion)
    val snapForMerge = snap.copy(schemas = schemas, schemaVersion = schemaVersion)

    // The winner build side comes straight out of the cached keyed scan —
    // no second aggregation job (BatchStats.winOff). The winner count is
    // the exact dedup lineage metric AND the broadcast decision: winner
    // offsets ship to every executor (full images never shuffle) only when
    // the key set fits executor memory; past the limit the same semi-join
    // runs shuffle-hash (one image shuffle, zero broadcast state — the only
    // safe shape at replay-scale cardinality).
    val useBroadcast = stats.winners <= broadcastKeyLimit

    // project row events to merge shape against the (possibly evolved)
    // schema (SchemaEvolution.sourceColumns). NOT no-op-filtered: winners
    // are fetched by globally-unique offset on BOTH merge paths and the
    // build side excludes no-ops, so the semi-join drops them for free and
    // this scan never evaluates the per-field image compare at all.
    val updates = decodedBatch
      .filter(BatchStats.isRow)
      .select(keyCols.map(col) ++
        SchemaEvolution.sourceColumns(newSchema, spec.camelize) ++
        Seq(col("offset"), col("op")): _*)
    spark.sparkContext.setJobDescription(s"graft b$batchId: merge write")
    val result =
      try MergeApply(spark, lake, snapForMerge, newSchema, updates,
        stats.winOff.orNull, stats.winners, stats.affected, batchId, useBroadcast)
      finally stats.keyed.unpersist(false)

    // dedup drops = batch events superseded by a same-key higher-offset
    // event in the same batch (incl. re-delivered duplicate copies) —
    // counted from the winner agg, NOT inferred from `applied` (which
    // would misattribute already-applied re-deliveries).
    val dedupDrops = stats.watchedRows - stats.noops - stats.winners

    // harvest the overlapped fold/split: their replacement files ride the
    // SAME snapshot commit as the batch's deltas, so crash-atomicity is
    // unchanged (a crash strands only uncommitted files, swept by vacuum)
    val willCommit =
      result.affectedBuckets.nonEmpty || evolved || stats.maxOff.isDefined
    val (compacted, splitRes) = scala.concurrent.Await.result(
      foldFut, scala.concurrent.duration.Duration.Inf)
    // a batch that turned out to be a pure no-op must leave NO trace: the
    // speculative fold's output files are uncommitted (no snapshot ever
    // references them), so eager deletion restores exactly the state a
    // non-kicked fold would have left (DeltaCompactionSpec's no-fold-only-
    // commit law). The debt stays and folds with the next real batch.
    if (!willCommit) {
      lake.discardFiles(compacted.files ++ splitRes.files)
      discardedFoldAt.put(lake.root, snap.id)
    } else discardedFoldAt.remove(lake.root)

    val latencyMs = (System.nanoTime() - t0) / 1000000L
    val tCommit0 = System.nanoTime()
    val compactMs =
      if (willCommit) compacted.compactMs + splitRes.compactMs else 0L

    if (willCommit) {
      val metrics: Map[String, Long] =
        result.rowsPerBucket.map { case (b, n) => s"bucket.$b.rows" -> n } ++
        Map("eventsIn" -> stats.eventsIn, "watchedRows" -> stats.watchedRows,
          "noopDrops" -> stats.noops, "dedupDrops" -> dedupDrops,
          "applied" -> stats.applied, "ddls" -> stats.nDdl,
          "mergeLatencyMs" -> latencyMs,
          "statsMs" -> tStats, "writeMs" -> result.mergeMs,
          "compactMs" -> compactMs,
          "affectedBuckets" -> result.affectedBuckets.size.toLong,
          "rowsWritten" -> result.rowsPerBucket.values.sum,
          "compactedRows" -> compacted.rows,
          "splitRows" -> splitRes.rows)
      // the file-list delta is stamped here, where it is known exactly:
      // commit then persists O(touched buckets) of manifest
      val d = MergeApply.fileListDelta(snap, plan, compacted, splitRes,
        result.newFiles)
      lake.commit(GraftLake.Snapshot(
        id = snap.id + 1, batchId = batchId,
        schemas = schemas, schemaVersion = schemaVersion,
        files = d.files,
        lastOffset = (stats.maxOff.toSeq ++ snap.lastOffset.toSeq)
          .sorted.lastOption,
        metrics = metrics ++ d.metrics, parentId = snap.id, lineage = lineage,
        nBuckets = lake.nBuckets,
        addedFiles = d.addedFiles, removedPaths = d.removedPaths))
      lake.expire(spec.expireKeep)
    }
    BatchMetrics(batchId, stats.eventsIn, stats.watchedRows, stats.noops,
      dedupDrops, stats.applied, stats.nDdl, latencyMs,
      result.affectedBuckets.size, replayedSkip = false,
      statsMs = tStats, writeMs = result.mergeMs,
      commitMs = (System.nanoTime() - tCommit0) / 1000000L,
      rowsWritten = result.rowsPerBucket.values.sum,
      compactedBuckets = if (willCommit) plan.fold.size else 0,
      compactMs = compactMs)
  }

  /** Full replay / tail as a Structured Streaming job with checkpointed
    * offsets (S1/D3/D6 analog: the checkpoint replaces both position
    * stores — SURVEY.md §1.5). Multi-table configs dispatch every
    * subscription against the same microbatch in parallel (D7 — the
    * reference's one-actor-per-table concurrency,
    * server/akkaSystem/SingleDbBinglogActor.java:57-68), then the engine
    * checkpoint advances only after all lakes committed (the barrier). */
  def runStream(spark: SparkSession, cfg: IngestConfig,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val specs = cfg.specs
    val lakes = specs.map(s => new GraftLake(s.lakeRoot, s.nBuckets))
    lakes.foreach(_.init(graft.model.Schemas.targetBase))
    // D10: identity gate BEFORE any offsets resolve or state mutates —
    // the reference rejects unknown clients at registration time
    cfg.clientId.foreach(id => lakes.foreach(_.subscribers.checkClient(id)))
    val lineage = checkpointLineage(cfg.checkpointDir)
    // orphan sweep ONCE at startup — the only moment fresh orphans can
    // exist (a crash of the PREVIOUS process between writeData and the
    // snapshot rename); per-commit retention never lists the data dir.
    // Skipped under a fresh
    // FOREIGN writer lease — another live stream's in-flight batch holds
    // uncommitted files the sweep would destroy; our OWN stale lease (a
    // crash-restart resumes the same checkpoint lineage) never blocks.
    // The lease is then taken immediately and renewed per batch.
    lakes.foreach { lk =>
      if (lk.subscribers.liveWriter(lineage).isEmpty) lk.vacuum(lineage)
      lk.subscribers.renewLease(lineage)
    }
    // ONE pruned feed-range scan per job start, shared by every
    // subscription's resume guard and the tombstone horizon
    val range = feedRangeIfAny(spark, cfg.feedDir)
    val fromPos = specs.indices.map(i => resolveStart(spark, cfg, lakes(i), range))
    // tombstone GC horizon = the retained feed's minimum offset at job
    // start (the O3 bound; trimming during the run only raises the true
    // bound, so a start-time value stays conservative and is computed once)
    val horizon: Option[Offset] = range.map(_._1)
    val writer = FeedReader.readStream(spark, cfg.feedDir, cfg.maxFilesPerTrigger)
      .writeStream
      .queryName("graft-cdc-ingest")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        // D10 liveness: one tiny heartbeat write per (lake, batch) keeps
        // this subscriber visible to `pruneDeadClients` (the reference
        // watches registered clients and prunes dead ones —
        // BinglogBaseActor.java:139-152); O(1), off the data path
        cfg.clientId.foreach(cid => lakes.foreach(_.subscribers.heartbeat(cid)))
        // writer lease: one tiny overwrite per (lake, batch) keeps the
        // full-sweep vacuum fenced off while this stream is live
        lakes.foreach(_.subscribers.renewLease(lineage))
        def applyTo(i: Int): BatchMetrics = applyTableBatch(spark, lakes(i),
          specs(i), df, id, fromPos(i), lineage, cfg.broadcastKeyLimit, horizon)
        if (specs.size == 1) applyTo(0)
        else {
          // D7: independent per-table merge pipelines over the shared
          // batch. The batch is persisted ONCE before the fan-out: each
          // table's pipeline scans it ~2× (keyed scan + winner fetch), so
          // T subscriptions would otherwise re-materialize the feed ~2T
          // times; with the cache it is one feed materialization + 2T
          // cheap cached passes, and the per-spec watched-table filters
          // run over the cached rows.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try Await.result(Future.traverse(specs.indices.toList)(i =>
            Future(applyTo(i))), Duration.Inf)
          finally df.unpersist(false)
        }
        ()
      }
    val query = writer.start()
    // release the writer lease on graceful termination so maintenance can
    // run immediately after the stream ends (a crashed process's lease
    // just ages out of the TTL instead)
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          lakes.foreach(_.subscribers.releaseLease(lineage))
          spark.streams.removeListener(this)
        }
    })
    // listener added after start(): if the query already finished (tiny
    // AvailableNow feeds), the event predates the listener — release now
    if (!query.isActive) lakes.foreach(_.subscribers.releaseLease(lineage))
    query
  }

  /** D9 — failover, the way Spark does it. The reference's client reacts
    * to a dead server by picking a live one from the cluster receptionist
    * and RE-REGISTERING every table from its recorded offsets
    * (reference client/akkaSystem/SingleDBInsBinlogClientActor.java:117-162,
    * 221-256); a Structured Streaming job's equivalent is
    * restart-from-checkpoint. This supervisor IS that loop: when the
    * stream dies (transient feed IO, a fenced commit race, an executor
    * loss surfacing as a query error) it relaunches [[runStream]] against
    * the SAME checkpoint after a backoff — the checkpointed offsets plus
    * the lineage fence make every retry exactly-once, and the restart
    * sweeps the failed attempt's uncommitted strands (the startup vacuum,
    * own-lineage lease). Bounded: after `maxRestarts` consecutive failed
    * attempts the last error propagates (a poisoned feed must page an
    * operator, not spin). A restart that makes progress resets the
    * budget — the reference's serverChangeTimes counter resets the same
    * way on a successful re-registration. Returns the restarts consumed. */
  def runSupervised(spark: SparkSession, cfg: IngestConfig,
      maxRestarts: Int = 3, backoffMs: Long = 1000L,
      trigger: Trigger = Trigger.AvailableNow(),
      onRestart: (Int, Throwable) => Unit = (_, _) => ()): Int = {
    // progress = the SUM of every subscribed lake's snapshot id (ids are
    // monotonic, so the sum advances iff ANY table advanced; a max would
    // mask one table's progress behind another's larger id). A lake that
    // can't be probed mid-failure reads as no-progress rather than
    // masking the stream's own error.
    def lakeTip(): Long = cfg.specs.map { s =>
      try new GraftLake(s.lakeRoot, s.nBuckets).latest().map(_.id).getOrElse(-1L)
      catch { case scala.util.control.NonFatal(_) => -1L }
    }.sum
    var restarts = 0
    var consecutive = 0
    while (true) {
      val tipBefore = lakeTip()
      try {
        val q = runStream(spark, cfg, trigger)
        q.awaitTermination()
        return restarts
      } catch {
        case scala.util.control.NonFatal(e) =>
          restarts += 1
          consecutive = if (lakeTip() > tipBefore) 1 else consecutive + 1
          if (consecutive > maxRestarts) throw e
          onRestart(restarts, e)
          Thread.sleep(backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One-shot batch replay — used by tests and the bench's single-pass
    * mode. `chunkFiles > 0` splits the retained feed into consecutive
    * binlog-file ranges applied as successive batches: bounds per-batch
    * key cardinality (and so the broadcast build) the same way
    * maxFilesPerTrigger does for the streaming path. */
  def replayBatch(spark: SparkSession, cfg: IngestConfig,
      chunkFiles: Int = 0): BatchMetrics = {
    val spec = cfg.specs.head
    val lake = new GraftLake(spec.lakeRoot, spec.nBuckets)
    lake.init(graft.model.Schemas.targetBase)
    // Scale-adaptive scan split (guide §2.2/§6): a one-shot replay scans
    // the WHOLE retained feed twice (keyed stats scan + winner fetch), and
    // a split size tuned for rate-limited microbatches (the session's 2 MB,
    // which makes a 16-file trigger window splittable across cores) gives
    // that bulk scan input-bytes/2MB tasks — ~1.8k tasks per pass at 16M
    // events, each paying task launch + parquet footer/reader init, ~10%
    // of replay wall at p16 and worse at lower parallelism. Derive the
    // split from input size instead: ~4 waves per pass across the
    // session's cores, clamped to [session default, 128 MB] so a small
    // feed never LOSES parallelism and a huge one never degenerates to
    // one task per core. Restored after — the streaming path's batches
    // are planned by the source under the session's own setting.
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val prevSplit = spark.conf.get(splitKey)
    try {
      val feedBytes =
        try {
          val p = new org.apache.hadoop.fs.Path(cfg.feedDir)
          p.getFileSystem(GraftLake.hadoopConf()).getContentSummary(p).getLength
        } catch { case _: Throwable => 0L }
      val waves = 4L * math.max(spark.sparkContext.defaultParallelism, 1)
      val target = feedBytes / waves
      val floor = org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(prevSplit)
      if (target > floor)
        spark.conf.set(splitKey,
          math.min(target, 128L * 1024 * 1024).toString)
      // lazy: only a resume guard or a fold reads the range, and a fresh
      // LAST_POS replay has neither
      lazy val range = feedRangeIfAny(spark, cfg.feedDir)
      val fromPos = resolveStart(spark, cfg, lake, range)
      val feed = FeedReader.readBatch(spark, cfg.feedDir)
      val batches =
        if (chunkFiles <= 0) Seq(feed)
        else {
          val (lo, hi) = range.getOrElse(feedOffsetRange(spark, cfg.feedDir)) match {
            case (a, b) => (a.fileIdx, b.fileIdx)
          }
          (lo to hi by chunkFiles.toLong).map(start => feed.filter(
            col("offset.fileIdx") >= start &&
              col("offset.fileIdx") <= math.min(start + chunkFiles - 1, hi)))
        }
      batches.map { b =>
        val nextBatch = lake.latest().map(_.batchId).getOrElse(-1L) + 1
        applyTableBatch(spark, lake, spec, b, nextBatch, fromPos,
          lineage = "", cfg.broadcastKeyLimit, range.map(_._1))
      }.last
    } finally spark.conf.set(splitKey, prevSplit)
  }
}
