package graft.table

import graft.table.GraftLake.{FileEntry, FormatVersion, SegmentRef, Snapshot}
import org.apache.hadoop.fs.{Path => HPath}

import java.nio.charset.StandardCharsets.UTF_8

/** A lake's snapshot log under `<root>/_graft_log`: the manifest codec
  * (snapshot and anchor JSONs, manifest segments), chain reconstruction,
  * the commit publish and retention.
  *
  * '''Incremental manifests.''' A snapshot's file list is O(table files)
  * — ~10^6 entries at 2^16 buckets — so a commit normally persists only
  * its '''delta''' vs its parent, `addedFiles` + `removedPaths`, both
  * O(touched buckets): the shape of LevelDB's incremental MANIFEST
  * (reference analog: server/infoPersistent/BinlogDataStorageWithLevelDB.java).
  * Every `manifestEvery`-th commit is full, so reconstruction walks a
  * bounded chain; [[latest]] caches the reconstructed state, so
  * steady-state reads apply one O(batch) delta per commit. [[expire]] is
  * incremental too: the files deletable when a snapshot leaves the
  * retention window are exactly the `removedPaths` it recorded, so
  * retention reads the dropped JSONs only — never the data directory.
  *
  * '''On-disk format.''' Every snapshot and anchor JSON carries
  * `formatVersion` = [[GraftLake.FormatVersion]]; the one manifest parser
  * ([[readRaw]]) refuses any other value, a missing one included, so a lake
  * written by a build with a different format fails closed on its first
  * snapshot read instead of being misread. The remedy is to re-replay the
  * lake from the feed.
  *
  * See [[GraftLake]] for `manifestEvery` and `segmentInline`. */
final class Manifest(store: MetaStore, logDir: HPath, manifestEvery: Int,
    segmentInline: Int) {
  import MetaStore.mapper

  private def fs = store.fs
  private def snapPath(id: Long): HPath =
    new HPath(logDir, f"snapshot-$id%011d.json")

  private def snapshotPaths(): Seq[HPath] =
    store.list(logDir).map(_.getPath)
      .filter(_.getName.matches("snapshot-\\d+\\.json"))
      .sortBy(_.getName)

  private def idOf(p: HPath): Long =
    p.getName.split('-').last.stripSuffix(".json").toLong

  /** Retained snapshot JSONs by id (one log listing). */
  private[table] def byId(): Map[Long, HPath] =
    snapshotPaths().map(p => idOf(p) -> p).toMap

  /** Anchor = a full materialization of snapshot `id`, written by [[expire]]
    * at the retention FLOOR (the oldest id whose JSON is kept) so that
    * EVERY retained id's backward chain walk terminates at it.
    * Reconstruction treats an anchor as the full form of its id. */
  private def anchorPath(id: Long): HPath =
    new HPath(logDir, f"anchor-$id%011d.json")
  private def anchorIds(): Seq[Long] =
    store.list(logDir).map(_.getPath)
      .filter(_.getName.matches("anchor-\\d+\\.json")).map(idOf).sorted
  private def anchorRaws(): Seq[Snapshot] = anchorIds().map(a => readRaw(anchorPath(a)))

  // -- manifest segments (see GraftLake.SegmentRef) ------------------------
  private def segDir: HPath = new HPath(logDir, "seg")
  /** Bucket span of one manifest segment: at most ~64 segments per table. */
  private def segmentWidthOf(nb: Int): Int = math.max(1, nb / 64)

  /** Externalize a full file list as content-addressed per-bucket-range
    * segment files; returns the refs in range order. A range whose entry
    * list is unchanged since the previous full form hashes to the SAME
    * path, so its write is skipped — publish IO is O(touched ranges) + one
    * existence probe per range (≤ ~64), never O(table). A lost publish
    * race is benign: same name ⇒ same content. */
  private def writeSegments(files: Seq[FileEntry], nb: Int): Seq[SegmentRef] = {
    fs.mkdirs(segDir)
    val segW = segmentWidthOf(math.max(nb, 1))
    files.groupBy(_.bucket / segW).toSeq.sortBy(_._1).map { case (g, group) =>
      val sorted = group.sortBy(f => (f.bucket, f.path))
      val body = mapper.writeValueAsString(sorted)
      val hash = java.security.MessageDigest.getInstance("SHA-256")
        .digest(body.getBytes(UTF_8)).take(12).map("%02x".format(_)).mkString
      val p = new HPath(segDir, s"seg-$g-$hash.json")
      store.metaOps.incrementAndGet()
      if (!fs.exists(p)) store.publishString(p, body)
      SegmentRef(store.externalize(p), g * segW, (g + 1) * segW - 1, sorted.size)
    }
  }

  private def readSegments(refs: Seq[SegmentRef]): Seq[FileEntry] =
    refs.flatMap { r =>
      mapper.readValue(store.read(new HPath(r.path)),
        classOf[Array[FileEntry]]).toSeq
    }

  /** Inflate a segmented full form to its in-memory shape (inline files). */
  private def materialize(s: Snapshot): Snapshot =
    if (s.incremental || s.segments.isEmpty) s
    else s.copy(files = readSegments(s.segments), segments = Nil)

  /** The disk form of a full snapshot/anchor: inline up to `segmentInline`
    * entries, segmented past it. */
  private def fullForm(s: Snapshot): Snapshot = {
    val f = s.copy(incremental = false)
    if (f.files.size <= segmentInline) f.copy(segments = Nil)
    else f.copy(files = Nil, segments = writeSegments(f.files, f.nBuckets))
  }

  /** Parse one snapshot/anchor JSON as stored — NO chain reconstruction
    * (incremental snapshots come back with empty `files`). The one place
    * the format is checked: every manifest reader goes through here. */
  private def readRaw(p: HPath): Snapshot = {
    val s = mapper.readValue(store.read(p), classOf[Snapshot])
    if (s.formatVersion != FormatVersion)
      throw new IllegalStateException(
        s"manifest $p has formatVersion ${s.formatVersion} (0 = none " +
          s"recorded), but this build reads only formatVersion " +
          s"$FormatVersion — the lake was written by another build; " +
          "re-replay it from the feed")
    // Jackson can't see the erased Long value type of `metrics`, so small
    // JSON numbers come back Integer-boxed — any caller then unboxing a
    // value as Long (the static type!) throws ClassCastException. Coerce
    // at the one parse seam so cold-read snapshots carry real Longs.
    s.copy(metrics = s.metrics.asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue })
  }

  /** The in-memory image of the newest committed snapshot. Commit updates
    * it in place; a cold [[latest]] (fresh process) rebuilds it from the
    * bounded manifest chain exactly once. */
  @volatile private var cached: Option[Snapshot] = None

  /** In-memory image of the last-published retention anchor — lets the
    * next anchor publish derive its state by applying the few deltas since
    * (no segment re-read), and short-circuits chain walks that bottom out
    * at the anchor id. Pure cache: a cold process rebuilds from disk. */
  @volatile private var anchorCached: Option[Snapshot] = None

  /** Stored form of snapshot `id`, preferring an anchor (full) when one
    * exists — it short-circuits the chain walk. */
  private[table] def rawFor(id: Long, byId: Map[Long, HPath]): Snapshot = {
    val ap = anchorPath(id)
    if (fs.exists(ap)) readRaw(ap)
    else readRaw(byId.getOrElse(id, throw new IllegalStateException(
      s"snapshot $id (manifest chain) is missing from $logDir")))
  }

  /** Apply one incremental snapshot over its reconstructed base — THE
    * chain-application invariant, shared by [[reconstruct]] and expire's
    * anchor derivation so the two can never drift (the same reason
    * MergeApply.fileListDelta is the one file-list delta). */
  private def applyDelta(base: Snapshot, delta: Snapshot): Snapshot = {
    val removed = delta.removedPaths.toSet
    delta.copy(incremental = false, segments = Nil,
      files = base.files.filterNot(f => removed(f.path)) ++ delta.added)
  }

  private def reconstruct(paths: Seq[HPath]): Snapshot = {
    val byId = paths.map(p => idOf(p) -> p).toMap
    def inMemory(id: Long) =
      cached.filter(_.id == id) orElse anchorCached.filter(_.id == id)
    val maxId = byId.keys.max
    inMemory(maxId).foreach(s => return s)
    var chain = List(rawFor(maxId, byId))
    while (chain.head.incremental) {
      val pid = chain.head.parentId
      chain = inMemory(pid).getOrElse(rawFor(pid, byId)) :: chain
    }
    chain = materialize(chain.head) :: chain.tail
    chain.reduceLeft(applyDelta)
  }

  /** See [[GraftLake.latest]] (this side skips its bucket-count check). */
  def latest(): Option[Snapshot] = {
    if (!fs.exists(logDir)) return None
    val paths = snapshotPaths()
    if (paths.isEmpty) return None
    val maxId = idOf(paths.last)
    Some(cached.filter(_.id == maxId).getOrElse {
      val s = reconstruct(paths)
      cached = Some(s)
      s
    })
  }

  def oldestRetainedId(): Option[Long] =
    if (!fs.exists(logDir)) None
    else snapshotPaths().headOption.map(idOf)

  def snapshotLog(): Seq[Snapshot] = {
    if (!fs.exists(logDir)) return Nil
    val ids = byId()
    ids.keys.toSeq.sorted.map(id => rawFor(id, ids))
  }

  def snapshotAt(id: Long, root: String): Snapshot = {
    val paths = snapshotPaths().filter(p => idOf(p) <= id)
    require(paths.nonEmpty && idOf(paths.last) == id,
      s"snapshot $id of $root was never committed or left the retention window")
    reconstruct(paths)
  }

  /** See [[GraftLake.commit]]. */
  def commit(s: Snapshot): Snapshot = {
    val parent = cached.filter(_.id == s.parentId)
    val withDelta: Snapshot = {
      val hasDelta = s.added.nonEmpty || s.removedPaths.nonEmpty
      if (hasDelta || parent.isEmpty) s
      else {
        val parentPaths = parent.get.files.map(_.path).toSet
        val cur = s.files.map(_.path).toSet
        s.copy(
          addedFiles = s.files.filterNot(f => parentPaths(f.path)),
          removedPaths = parent.get.files.map(_.path).filterNot(cur))
      }
    }
    val stamped = withDelta.copy(formatVersion = FormatVersion)
    val full = parent.isEmpty || s.id % manifestEvery == 0
    val toWrite =
      if (full) fullForm(stamped)
      else stamped.copy(incremental = true, files = Nil, segments = Nil)
    val dst = snapPath(s.id)
    if (fs.exists(dst))
      throw new IllegalStateException(s"snapshot ${s.id} already committed (fenced)")
    if (!store.publishString(dst, mapper.writeValueAsString(toWrite)))
      throw new IllegalStateException(s"snapshot ${s.id} publish lost the race (fenced)")
    cached = Some(stamped.copy(incremental = false, segments = Nil))
    stamped
  }

  /** Trim the log to the last `keep` snapshots ([[GraftLake.expire]]);
    * returns the data paths the dropped snapshots recorded as removed.
    *
    * Reconstruction contract: EVERY retained id stays reconstructable for
    * [[snapshotAt]]. Snapshot JSONs are therefore kept down to a FLOOR —
    * the newest full base (anchor or full-form manifest) at or below the
    * retention cut — and new anchors are published AT the cut whenever
    * the floor lags it by more than `keep` commits: every retained id's
    * backward chain then terminates at the floor. Amortized, that is one
    * anchor publish per ~`keep` commits, writing only the segment ranges
    * touched since the previous anchor. Retained-JSON count oscillates in
    * [keep, 2·keep]; data-file GC lags the cut by at most `keep` commits
    * (files die when their recording JSON drops). */
  def expire(keep: Int): Seq[String] = {
    if (!fs.exists(logDir)) return Nil // never-initialized lake: nothing to trim
    val snaps = snapshotPaths()
    if (snaps.isEmpty) return Nil
    val maxId = idOf(snaps.last)
    val minId = idOf(snaps.head)
    val cut = maxId - math.min(keep - 1, maxId) // oldest id the contract keeps
    if (cut <= minId) return Nil
    val byId = snaps.map(p => idOf(p) -> p).toMap
    val anchors = anchorIds()
    // full bases at or below the cut: anchors, plus manifestEvery-boundary
    // full-form snapshots (id 0 — the init commit — is always one)
    val floor0 = (anchors.filter(_ <= cut) ++
      (minId to cut).filter(id => id % manifestEvery == 0 && byId.contains(id)))
      .sorted.lastOption
    val floor: Long = floor0 match {
      case Some(f) if cut - f <= keep => f
      case _ =>
        // publish a fresh anchor AT the cut. State at the cut comes from
        // the last anchor's in-memory image + the few deltas since (no
        // segment re-read), or a bounded chain walk on a cold process.
        val state = anchorCached match {
          case Some(a) if a.id <= cut && ((a.id + 1) to cut).forall(byId.contains) =>
            ((a.id + 1) to cut).foldLeft(a)((base, id) =>
              applyDelta(base, rawFor(id, byId)))
          case _ => reconstruct(snaps.filter(p => idOf(p) <= cut))
        }
        // lost race: fine, any complete anchor at this id works
        store.publishString(anchorPath(cut), mapper.writeValueAsString(
          fullForm(state).copy(formatVersion = FormatVersion)))
        anchorCached = Some(state.copy(incremental = false, segments = Nil))
        cut
    }
    val (drop, keepSnaps) = snaps.partition(idOf(_) < floor)
    val dropAnchors = anchors.filter(_ < floor)
    if (drop.isEmpty && dropAnchors.isEmpty) return Nil
    val dropRaws = drop.map(readRaw)
    val dropAnchorRaws = dropAnchors.map(a => readRaw(anchorPath(a)))
    drop.foreach(store.delete(_))
    dropAnchors.foreach(a => store.delete(anchorPath(a)))
    // segment files referenced ONLY by the dropped fulls/anchors die with
    // them — a long-running stream vacuums once, at startup, and would
    // otherwise accumulate dead segments for the life of the process.
    // Crashed-publish strays (referenced by nothing, dropped by nothing)
    // remain the vacuum's job.
    val droppedSegs =
      (dropRaws ++ dropAnchorRaws).flatMap(_.segments.map(_.path)).toSet
    if (droppedSegs.nonEmpty) {
      // Liveness = segments referenced by ANY retained form, so EVERY
      // retained snapshot JSON is read, not just the manifestEvery-boundary
      // ones: commit() also writes full (possibly segmented) forms at any
      // id whose parent isn't cached (every cold-open first commit), and
      // such a form may share a segment with a dropped one (pinned by the
      // off-boundary-full expiry test). The reads are ≤ 2·keep tiny JSONs,
      // paid ~once per `keep` commits, only when segments were dropped.
      val retainedSegs = (keepSnaps.map(readRaw) ++ anchorRaws())
        .flatMap(_.segments.map(_.path)).toSet
      (droppedSegs -- retainedSegs).foreach(p => store.delete(new HPath(p)))
    }
    dropRaws.flatMap(_.removedPaths)
  }

  /** The vacuum's reference set ([[GraftLake.vacuum]]): every data path a
    * retained snapshot or anchor lists, adds or removes; None when the log
    * holds no snapshot.
    *
    * Also sweeps segment files referenced by NO retained full form:
    * orphans of crashed segmented publishes (expire GCs the dropped-anchor
    * ones itself). Segments younger than `graceMs` are spared: a
    * concurrent expire/commit writes its segment files moments BEFORE
    * publishing the JSON that references them, so an unreferenced fresh
    * segment may be a publish in flight. Crash strays age past the grace
    * and die on the next sweep. */
  def referencedPaths(graceMs: Long): Option[Set[String]] = {
    val snaps = snapshotPaths()
    if (snaps.isEmpty) return None
    val raws = snaps.map(readRaw) ++ anchorRaws()
    val liveSegs: Set[String] = raws.flatMap(_.segments.map(_.path)).toSet
    val nowMs = System.currentTimeMillis()
    if (fs.exists(segDir))
      fs.listStatus(segDir).toSeq
        .filter(st => st.getPath.getName.startsWith("seg-") &&
          !liveSegs(store.externalize(st.getPath)) &&
          nowMs - st.getModificationTime > graceMs)
        .foreach(st => fs.delete(st.getPath, false))
    Some((raws.flatMap(r => materialize(r).files.map(_.path)) ++
      raws.flatMap(_.removedPaths) ++
      raws.flatMap(r => r.added.map(_.path))).toSet)
  }
}
