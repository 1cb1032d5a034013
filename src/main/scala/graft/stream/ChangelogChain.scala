package graft.stream

import graft.merge.MergeApply
import graft.table.GraftLake
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lake→lake changelog subscription (round-4 verdict #5): a downstream
  * pipeline chains off an upstream graft lake WITHOUT replaying the binlog
  * feed — the reference's whole raison d'être is exactly this subscription
  * fan-out (reference client/akkaSystem/SingleTableBinlogClientActor.java:
  * 106-142 — a client table actor applies the server's change stream into
  * its own store, resuming from its own acked position).
  *
  * [[sync]] applies one incremental window: the NET per-key changes
  * between the destination's last-applied source snapshot and the source's
  * current one ([[GraftLake.changesBetween]] — O(window) scan, never
  * O(table)), landed as one delta-append commit in the destination.
  * [[follow]] is the subscription loop: it triggers a sync whenever the
  * source log advances (one cheap `latest()` probe per poll).
  *
  * Exactly-once falls out of the same fence the ingest job uses: the
  * destination commit records `batchId = <source snapshot id>` under
  * `lineage = changelog:<source root>`, so a replayed window (crash between
  * apply and the caller's own bookkeeping, double-fired poll, restarted
  * follower) is skipped by the fence — and a crash between the data write
  * and the commit strands only orphan files that [[GraftLake.vacuum]]
  * sweeps. The destination's rows/offsets/tombstones are the source's
  * (LWW winners travel verbatim), so after any sync the destination state
  * EQUALS the source state at the synced snapshot — ChainedLakeSpec pins
  * that against a direct feed replay.
  *
  * Schema evolution rides for free: the destination adopts the source's
  * full schema-version map each sync, and window rows land stamped with
  * the source's current version (drop/rename field ids included).
  *
  * Retention bound: a follower that falls more than the source's
  * `expireKeep` snapshots behind loses its window (changesBetween needs
  * the chain) and must re-bootstrap — the same bound the reference's
  * too-old-seqId check imposes on slow subscribers (O3 analog). A fresh
  * destination bootstraps from a full source read at the current snapshot
  * (the net change from empty IS the full state, tombstones included).
  */
object ChangelogChain {

  final case class SyncResult(
      srcSnapshot: Long,
      rowsApplied: Long,
      applied: Boolean,
      bootstrapped: Boolean = false)

  def lineageFor(src: GraftLake): String = s"changelog:${src.root}"

  /** Apply everything committed in `src` since the last sync into `dst`
    * as ONE commit; no-op (fenced) when `dst` is already at or past the
    * source's current snapshot. `clientId` gates against the SOURCE
    * lake's D10 registry — a chained consumer is a subscriber like any
    * other — and heartbeats it per sync.
    *
    * A fresh destination bootstraps from the full source state at a
    * pinned source snapshot (the net change from empty, tombstones
    * included so late windows cannot resurrect deleted keys), applied as
    * ceil(srcBuckets / k) bucket-range chunks, one atomic destination
    * commit each — one chunk, the whole table, when k = 0.
    *
    * @param bootstrapChunkBuckets k, the source buckets per bootstrap
    *   chunk (0, the default: one chunk). At 10^10 rows a one-chunk
    *   bootstrap is a single transaction the sink must absorb whole, and
    *   one failure anywhere restarts all of it (round-5 verdict #1).
    *   Mid-bootstrap progress is recorded in the destination's own
    *   snapshot metrics (`bootstrapSrcSnap`, `bootstrapChunk`,
    *   `bootstrapChunks`), so a crashed bootstrap resumes at the first
    *   uncommitted chunk — never re-serving completed ones — and every
    *   chunk reads the SAME pinned source snapshot (the union is row-for-
    *   row the one-chunk bootstrap). The mapping (pinned id, chunk count)
    *   is fixed by the FIRST chunk's commit and read back on resume, so an
    *   option flip across a crash cannot re-map half-served chunks.
    * @param maxBootstrapChunksPerCall cap on chunk commits per sync()
    *   call (tests use 1 to exercise the crash-resume seam — returning
    *   between chunk commits IS the crash state, each commit being
    *   atomic). Callers passing a finite cap must re-call sync() until
    *   the destination's `batchId >= 0`; [[follow]] never caps. */
  def sync(spark: SparkSession, src: GraftLake, dst: GraftLake,
      clientId: Option[String] = None,
      compactFactor: Double = 4.0, maxDeltaFiles: Int = 16,
      maxCompactBuckets: Int = 16, expireKeep: Int = 50,
      bootstrapChunkBuckets: Int = 0,
      maxBootstrapChunksPerCall: Int = Int.MaxValue): SyncResult = {
    clientId.foreach(src.subscribers.checkClient)
    val srcSnap = src.latest().getOrElse(
      throw new IllegalStateException(s"source lake ${src.root} is empty"))
    clientId.foreach(src.subscribers.heartbeat)
    val dstSnap = dst.latest().getOrElse(dst.init(src.currentSchema(srcSnap)))
    val lineage = lineageFor(src)
    val from: Option[Long] =
      if (dstSnap.lineage == lineage && dstSnap.batchId >= 0) Some(dstSnap.batchId)
      else None
    // a mid-bootstrap destination: our own lineage, chunk progress in the
    // snapshot metrics (batchId stays -1 until the last chunk commits)
    val midBootstrap = from.isEmpty && dstSnap.lineage == lineage &&
      dstSnap.metrics.contains("bootstrapSrcSnap")
    if (from.exists(_ >= srcSnap.id)) // fence: window already applied
      return SyncResult(srcSnap.id, 0L, applied = false)
    // refuse to bootstrap ONTO foreign data: a destination populated by a
    // direct ingest (lineage = job uuid) or chained from a different source
    // would have its rows LWW-arbitrated against an unrelated offset space
    // — fail closed instead of silently producing a merged chimera
    if (from.isEmpty && dstSnap.files.nonEmpty && !midBootstrap)
      throw new IllegalStateException(
        s"destination ${dst.root} already holds data under lineage " +
          s"'${dstSnap.lineage}' (not $lineage); chain into a fresh " +
          "destination or resume the original subscription")

    /** One destination commit over `parent`: `rows` (per-key-unique LWW
      * winners of source snapshot `of`) land as new files, pre-existing
      * delta debt folds/splits alongside (disjoint files). `complete` =
      * the destination equals `of` after this commit (a window, or the
      * last bootstrap chunk): only then does it take `of`'s id as its
      * batchId — the fence — and `of`'s lastOffset. */
    def step(parent: GraftLake.Snapshot, of: GraftLake.Snapshot,
        rows: DataFrame, complete: Boolean,
        progress: Map[String, Long]): GraftLake.Snapshot = {
      val width = GraftLake.deltaRangeWidth(dst.nBuckets)
      // codec follows expected lifetime, as in the ingest merge: dense only
      // for a width-1 write into an empty destination
      val written = dst.writeData(rows, src.currentSchema(of),
        of.schemaVersion, batchId = of.id, delta = true,
        transient_ = parent.files.nonEmpty || width > 1, rangeWidth = width)
      val files = MergeApply.markBase(written, parent, width,
        perKeyUnique = true)
      // Tombstone GC horizon = the destination's own applied bound (None
      // mid-bootstrap): per-key LWW winner offsets at the source are
      // MONOTONE (stale re-deliveries are collapsed at the source before
      // any window is cut), so no future window can ever deliver a row
      // below a tombstone the destination already holds — the lower-
      // offset-replay hazard tombstones guard against cannot occur over
      // this channel, and without a horizon a delete-heavy subscription
      // grows its tombstone set forever (the destination never sees a
      // feed-retention bound — round-5 review).
      val plan = MergeApply.compactionPlan(parent.files, compactFactor,
        maxDeltaFiles, maxCompactBuckets)
      val (fold, split) = MergeApply.runPlan(spark, dst, parent, plan,
        of.id, tombstoneHorizon = parent.lastOffset)
      val d = MergeApply.fileListDelta(parent, plan, fold, split, files)
      dst.commit(GraftLake.Snapshot(
        id = parent.id + 1, batchId = if (complete) of.id else -1L,
        schemas = of.schemas, schemaVersion = of.schemaVersion,
        files = d.files,
        lastOffset = if (complete) of.lastOffset else None,
        metrics = Map("chainedRows" -> files.map(_.rows).sum,
          "srcSnapshot" -> of.id) ++ d.metrics ++ progress,
        parentId = parent.id, lineage = lineage, nBuckets = dst.nBuckets,
        addedFiles = d.addedFiles, removedPaths = d.removedPaths))
    }

    // a bootstrap's pinned source snapshot and chunk progress, read back
    // from the destination on resume
    val resume = if (midBootstrap) dstSnap.metrics else Map.empty[String, Long]
    val pinnedId = resume.getOrElse("bootstrapSrcSnap", srcSnap.id)
    // a window, or a bootstrap paused, past the source's retention cannot
    // be read consistently any more
    from match {
      case Some(f) => requireRetained(src, f, s"destination ${dst.root} last applied")
      case None => requireRetained(src, pinnedId,
        s"the mid-bootstrap destination ${dst.root} pins")
    }
    // writer lease on the destination: fences the full-sweep vacuum off
    // uncommitted files until their commit lands
    dst.subscribers.renewLease(lineage)
    val result = from match {
      case Some(f) =>
        val next = step(dstSnap, srcSnap,
          src.changesBetween(spark, f, srcSnap.id), complete = true, Map.empty)
        SyncResult(srcSnap.id, next.metrics("chainedRows"), applied = true)
      case None =>
        val pinned =
          if (pinnedId == srcSnap.id) srcSnap else src.snapshotAt(pinnedId)
        val total = resume.get("bootstrapChunks").map(_.toInt)
          .getOrElse(chunkCount(srcSnap.nBuckets, bootstrapChunkBuckets))
        val done = resume.getOrElse("bootstrapChunk", 0L).toInt
        val until = math.min(total, done + math.max(1, maxBootstrapChunksPerCall))
        val rows = (done until until).foldLeft((dstSnap, 0L)) {
          case ((cur, n), j) =>
            val chunk = src.read(spark, pinned,
              Some(chunkBuckets(pinned.nBuckets, total, j, j)),
              includeTombstones = true)
            val next = step(cur, pinned, chunk, complete = j == total - 1,
              Map("bootstrapSrcSnap" -> pinnedId,
                "bootstrapChunk" -> (j + 1).toLong,
                "bootstrapChunks" -> total.toLong))
            (next, n + next.metrics("chainedRows"))
        }._2
        SyncResult(pinnedId, rows, applied = true, bootstrapped = true)
    }
    dst.expire(expireKeep)
    // the new files are referenced now — release eagerly so a
    // stop-then-vacuum needn't wait out the TTL (a crashed sync leaves its
    // lease to age out, which is exactly the fence stranded files need)
    dst.subscribers.releaseLease(lineage)
    result
  }

  /** The subscriber retention guard (reference O3), shared by this
    * follower and the `graft-changelog` source: a subscriber still needs
    * source snapshot `id` (a window bound, or the snapshot a bootstrap is
    * pinned to); once it has left `src`'s retention window the change
    * window cannot be reconstructed, so refuse with the remedy spelled out
    * instead of surfacing a manifest-chain internal error. `holder` says
    * who needs `id` and how ("destination /x last applied"). */
  private[stream] def requireRetained(src: GraftLake, id: Long,
      holder: String): Unit =
    for (floor <- src.oldestRetainedId() if id < floor)
      throw new IllegalStateException(
        s"subscription too old: $holder source snapshot $id, but " +
          s"${src.root} retains only ids >= $floor — the change window is " +
          "gone; re-bootstrap (a fresh destination or query) or raise the " +
          "source's expireKeep")

  /** Bootstrap chunk count for a source of `nBuckets` buckets at most
    * `chunkBuckets` per chunk (<= 0: one chunk, the one-shot bootstrap). */
  private[stream] def chunkCount(nBuckets: Int, chunkBuckets: Int): Int =
    if (chunkBuckets <= 0) 1
    else math.max(1, math.ceil(nBuckets.toDouble / chunkBuckets).toInt)

  /** Source buckets of bootstrap chunks `lo..hi` (inclusive) of `total`
    * over `nBuckets` — the one chunk→bucket-range mapping both subscribers
    * serve by; the union over all chunks is every bucket exactly once. */
  private[stream] def chunkBuckets(nBuckets: Int, total: Int, lo: Int,
      hi: Int): Set[Int] = {
    val w = math.max(1, math.ceil(nBuckets.toDouble / total).toInt)
    (lo * w until math.min((hi + 1) * w, nBuckets)).toSet
  }

  /** Subscription loop: trigger a [[sync]] whenever the source log has a
    * new snapshot (readStream-style incremental consumption, expressed as
    * a poll on the snapshot log — the log IS the stream). Runs until
    * `until` returns true; `onSync` observes each applied window. */
  def follow(spark: SparkSession, src: GraftLake, dst: GraftLake,
      pollMs: Long = 1000L, clientId: Option[String] = None,
      until: () => Boolean = () => false,
      onSync: SyncResult => Unit = _ => ()): Unit = {
    var lastSeen = -1L
    while (!until()) {
      val tip = src.latest().map(_.id).getOrElse(-1L)
      if (tip > lastSeen) {
        val r = sync(spark, src, dst, clientId)
        lastSeen = r.srcSnapshot
        if (r.applied) onSync(r)
      } else Thread.sleep(pollMs)
    }
  }
}
