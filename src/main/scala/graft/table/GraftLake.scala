package graft.table

import graft.model.Offset
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import java.util.UUID

/** Iceberg-style snapshot-committed Parquet table, from scratch (no Iceberg
  * jars in this environment — SURVEY.md §7.1/§7.3).
  *
  * {{{
  *   <root>/data/commit-<batchId>-<uuid>/_bdir=N/part-....parquet // N = bucket or range lo
  *   <root>/_graft_log/snapshot-%011d.json, anchor-%011d.json // commit; expire's full form
  *   <root>/_graft_log/seg/seg-<g>-<hash>.json // manifest segment
  *   <root>/_graft_log/clients-%06d.json, lease-<id>.json, hb-<id>
  * }}}
  * The snapshot log (snapshot, anchor and segment JSONs) is [[Manifest]]
  * (Manifest.scala); the registry, leases and heartbeats are
  * [[Subscribers]] (Subscribers.scala); both do their IO through one
  * [[MetaStore]] (MetaStore.scala).
  *
  * The commit protocol replicates the reference's ack-after-process ordering
  * (reference: server/akkaSystem/ClientConnectActor.java:91-96 — offsets are
  * persisted only after delivery): data files first, snapshot JSON rename
  * last, streaming checkpoint after that. A crash between steps leaves only
  * orphan data files, which no snapshot references and [[vacuum]] deletes.
  * Replayed batchIds are fenced by `latest.batchId` (idempotent commits).
  *
  * Scale notes: the snapshot lists files per hash bucket of (repo, path), so
  * a MERGE touches only affected buckets (bounded rewrite at 1e10-event
  * scale); readers prune by bucket without listing directories; commit-time
  * metadata IO is O(touched buckets), independent of table size (a commit
  * persists its file-list delta, retention reads only the JSONs it drops —
  * see [[Manifest]]; pinned by GraftLakeSpec's metadata-op test).
  */
object GraftLake {
  /** `delta = true` marks a merge-on-read delta file: its rows supersede
    * (by LWW max offset) same-key rows in the bucket's base + earlier
    * deltas, and may themselves contain duplicate keys (re-delivered
    * copies of one event, or several batches' winners). Base files
    * (`delta = false`) are per-key unique within their bucket.
    *
    * `bucketHi`: delta files may cover a contiguous bucket RANGE
    * `[bucket, bucketHi]` instead of one bucket — at 4096+ buckets a
    * per-bucket delta write costs O(nBuckets) files per ~1s microbatch;
    * range-partitioned deltas make it O(nBuckets / rangeWidth)
    * while base files stay per-bucket so fold units and read pruning keep
    * bucket granularity. The default -1 marks a single-bucket entry; `hi`
    * normalizes it. */
  final case class FileEntry(path: String, bucket: Int, schemaVersion: Int,
      rows: Long, delta: Boolean = false, bucketHi: Int = -1) {
    /** Inclusive range end; ≥ bucket by construction. */
    def hi: Int = math.max(bucket, bucketHi)
    def covers(b: Int): Boolean = b >= bucket && b <= hi
    def bucketsCovered: Range = bucket to hi
  }

  /** Delta-range width for a table of `nBuckets`: the smallest power of
    * two keeping per-commit delta dirs ≤ `maxDirs` at ANY bucket count,
    * independent of the fold budget. A range wider than
    * the per-commit fold budget is handled by compaction itself: it SPLITS
    * into fold-unit-width delta files first (MergeApply.splitDeltas — the
    * L0→L1 tier of an LSM), so fold latency stays bounded while the write
    * path never produces more than `maxDirs` files per commit. A pure
    * function of nBuckets — every writer of a lake derives the same width,
    * no extra persisted state (the compaction closure handles mixed widths
    * across a config change anyway). ≤64-bucket tables get width 1. */
  def deltaRangeWidth(nBuckets: Int, maxDirs: Int = 64): Int = {
    var w = 1
    while (nBuckets / w > maxDirs) w *= 2
    w
  }

  /** Bucket count for a table expected to hold ~`estRows` live keys:
    * grows with table size (a fixed count makes per-bucket row counts —
    * and so compaction rewrites — O(table)), power of two, clamped to a
    * sane range. Default target ≈ 4M rows per bucket keeps a full-bucket
    * compaction a single-task-sized job. */
  def suggestedBuckets(estRows: Long, targetRowsPerBucket: Long = 4000000L): Int = {
    val want = math.max(1.0, estRows.toDouble / targetRowsPerBucket)
    val pow = math.ceil(math.log(want) / math.log(2.0)).toInt
    1 << math.min(16, math.max(3, pow)) // clamp BEFORE shifting (Int wrap)
  }

  /** Pointer to one immutable, content-addressed manifest SEGMENT file
    * holding the `FileEntry` list for buckets `[lo, hi]`. Segments split a
    * full form so that no publish is one O(table) JSON: a publish writes
    * only the ranges touched since the previous full form; unchanged
    * ranges hash to the same path and are reused — the manifest-list +
    * manifest-segment shape of Iceberg. */
  final case class SegmentRef(path: String, lo: Int, hi: Int, nFiles: Int)

  /** The manifest format this build writes and the only one it reads. */
  val FormatVersion = 1

  /** In memory, `files` is ALWAYS the full reconstructed list. On disk a
    * snapshot is either full (`incremental = false`: `files` persisted
    * inline, or as `segments` refs past `segmentInline` entries) or
    * a delta (`incremental = true`: only `addedFiles`/`removedPaths`
    * persisted, `files` empty) — see [[Manifest]]. `addedFiles` and
    * `removedPaths` are recorded on FULL snapshots too: expiry GC reads
    * them from every dropped snapshot regardless of its form. */
  final case class Snapshot(
      id: Long,
      batchId: Long,
      /** DataType.json of every schema version ever committed (files are
        * read with their own version, then cast to current — widening-safe) */
      schemas: Map[String, String],
      schemaVersion: Int,
      files: Seq[FileEntry],
      lastOffset: Option[Offset],
      /** per-bucket rows applied this commit + scalar batch metrics
        * (counts and phase timings) — the one durable per-batch record */
      metrics: Map[String, Long],
      parentId: Long,
      /** checkpoint-lineage id that produced this commit: streaming
        * batchIds are only monotonic within one checkpoint lineage, so the
        * exactly-once replay fence compares batchIds only when the lineage
        * matches (a fresh checkpoint over an existing lake restarts ids at
        * 0 — fencing on the bare number would silently drop those batches). */
      lineage: String = "",
      /** bucket count this table was created with — the (repo, path) →
        * bucket assignment is a function of it, so every writer/reader MUST
        * use the stored value (a mismatched count silently splits a key's
        * base and delta across buckets and merge-on-read never pairs them). */
      nBuckets: Int,
      /** on-disk form only: true = delta manifest (see scaladoc) */
      incremental: Boolean = false,
      /** file entries added vs parent */
      addedFiles: Seq[FileEntry] = Nil,
      /** paths removed vs parent — compacted-away and same-commit-folded
        * files; drives incremental expiry GC */
      removedPaths: Seq[String] = Nil,
      /** on-disk form of a LARGE full snapshot/anchor: the file list lives
        * in per-bucket-range segment files instead of inline `files`
        * (see [[SegmentRef]]); empty for inline/incremental forms */
      segments: Seq[SegmentRef] = Nil,
      /** on-disk format, stamped at every manifest publish. The default is
        * one no build writes: Jackson fills a missing key with it, so a
        * manifest without the field is refused like any unknown version. */
      formatVersion: Int = 0) {
    def added: Seq[FileEntry] = addedFiles
  }

  /** How metadata files become visible. Every publish
    * in this table is single-writer-wins on a single object: the snapshot
    * JSON, the anchor, one registry version. Two primitives cover every
    * store:
    *  - [[Publish.Rename]]: tmp write + atomic rename — POSIX, HDFS.
    *  - [[Publish.Cas]]: create-exclusive at the final name (Hadoop
    *    `create(path, overwrite = false)`) — the seam object stores map to
    *    a conditional PUT (S3 `If-None-Match: *`, GCS `ifGenerationMatch:
    *    0`), where the whole-object PUT is atomic and "already exists" is
    *    the losing side of the race. No rename anywhere on the publish
    *    path (pinned by GraftLakeSpec on a rename-less FileSystem). */
  sealed trait Publish
  object Publish {
    case object Rename extends Publish
    case object Cas extends Publish
  }

  def bucketExpr(nBuckets: Int) =
    pmod(hash(col("repo"), col("path")), lit(nBuckets))

  /** Driver-side twin of [[bucketExpr]] for ONE key: evaluates the SAME
    * Catalyst expressions (`Pmod(Murmur3Hash(...))` — what
    * `functions.hash`/`pmod` build) over literals. No Spark job, and no
    * hand-rolled Murmur3 that could silently drift from the expression
    * the write path partitions by (PointReadSpec pins the equality). */
  def bucketOf(repo: String, path: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    val key = Seq(Literal.create(repo), Literal.create(path))
    Pmod(new Murmur3Hash(key), Literal(nBuckets)).eval(null).asInstanceOf[Int]
  }

  /** Open an existing lake with the bucket count its snapshot log records
    * (None when no lake/snapshot exists). CLI entrypoints use this so a
    * lake replayed with any bucket count streams/reads with the same one. */
  def storedBuckets(root: String): Option[Int] = {
    val probe = new GraftLake(root, 0)
    // `latest()` already answers None for a missing/empty lake; the only
    // benign failure left is the missing-file race with a concurrent
    // expire (a just-listed snapshot JSON deleted before its read) —
    // retry once. Anything else (corrupt manifest, real IO error) must
    // PROPAGATE, never read as "no lake exists".
    def attempt(): Option[Int] = probe.latest().map(_.nBuckets)
    try attempt()
    catch { case _: java.io.FileNotFoundException => attempt() }
  }

  /** Hadoop configuration for all lake metadata IO: the active Spark
    * session's (which carries `spark.hadoop.*` — object-store credentials,
    * endpoints) when one exists on this JVM, else a classpath-default
    * `Configuration` — so a lake rooted at s3a:// authenticates its
    * manifest IO the way `spark.read` does. */
  def hadoopConf(): Configuration =
    scala.util.Try {
      // guarded: footerRows runs in executor-side tasks, where session
      // lookups may return None or throw depending on deploy mode
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext.hadoopConfiguration)
    }.toOption.flatten.getOrElse(defaultConf)

  /** Parsed once per JVM: each new `Configuration` re-parses Hadoop's
    * defaults (~20 ms of CPU), and the executor-side footer job asks per file. */
  private lazy val defaultConf = new Configuration()

  /** Row count from a parquet footer — a pure metadata read (no data IO).
    * Static so executor-side metadata jobs don't capture the lake. */
  def footerRows(p: String): Long = {
    // scheme-qualified paths (hdfs://, s3a://, file:/) go to Hadoop as-is;
    // bare local paths route through java.nio for odd-character safety
    val hp = if (p.contains(":/")) new org.apache.hadoop.fs.Path(p)
      else new org.apache.hadoop.fs.Path(java.nio.file.Paths.get(p).toUri)
    val conf = hadoopConf()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf)
    // read options from `conf`: the one-argument `open` builds its options
    // on a new Configuration, which re-parses Hadoop's defaults per file
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try r.getRecordCount finally r.close()
  }

  /** Per-key LWW winner image (max `_offset`) — the engine's one fold,
    * shared by merge-on-read, range splits and the changelog. */
  private[graft] def lwwWinners(cur: StructType, df: DataFrame): DataFrame = {
    import graft.model.Schemas.keyCols
    val payload = cur.fieldNames.toSeq.filterNot(keyCols.contains)
    val packed = struct(payload.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(packed, graft.model.Offset.encExpr(col("_offset"))).as("_e"))
      .select(keyCols.map(col) ++ payload.map(c => col(s"_e.$c")): _*)
  }

  /** An empty frame of `schema` — the read and window paths' "no files". */
  private[graft] def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
}

/** All manifest/commit IO goes through the Hadoop FileSystem API resolved
  * from the root path's scheme, so the table works on `file:`-style URIs
  * today and `hdfs://`-style URIs unchanged. Metadata
  * publishes go through ONE seam ([[MetaStore.publishString]]) with two modes:
  * atomic rename (POSIX/HDFS, the default) or create-exclusive /
  * conditional-put ([[GraftLake.Publish.Cas]]) for object stores without
  * atomic rename. Local-scheme paths are externalized
  * WITHOUT the `file:` prefix, the form every formatVersion-1 manifest
  * records ([[MetaStore.externalize]]).
  *
  * @param nBuckets bucket count for writes; validated against the stored
  *   snapshot on read/commit (0 = adopt whatever the log records).
  * @param manifestEvery backstop full-snapshot cadence for lakes that never
  *   run retention: every commit normally persists only its file-list
  *   delta (O(touched buckets)); [[expire]] materializes a full anchor
  *   when — and only when — dropping old snapshots would orphan the
  *   reconstruction chain (≈ once per `keep` commits, off the commit
  *   path), so this periodic full write virtually never fires under a
  *   normal retention schedule.
  * @param publish metadata publish mode — see [[GraftLake.Publish]].
  * @param segmentInline full snapshot/anchor forms with at most this many
  *   file entries inline the list in the snapshot JSON (one read, the
  *   small-table fast path); larger lists are stored as content-addressed
  *   per-bucket-range SEGMENT files + a small ref list, so no single
  *   metadata publish is ever O(table) — see [[GraftLake.SegmentRef]].
  */
final class GraftLake(val root: String, val nBuckets: Int,
    val manifestEvery: Int = 256,
    val publish: GraftLake.Publish = GraftLake.Publish.Rename,
    val segmentInline: Int = 512) {
  import GraftLake._

  private val rootPath = new HPath(root)
  private val fs: FileSystem = NioLocalFileSystem.forPath(rootPath)
  private val store = new MetaStore(fs, publish)
  private val manifest = new Manifest(store, logDir, manifestEvery, segmentInline)
  /** The writer lease, the client registry and heartbeats of this lake. */
  val subscribers = new Subscribers(store, logDir, root)
  /** See [[MetaStore.metaOps]]. */
  val metaOps = store.metaOps
  private def logDir: HPath = new HPath(rootPath, "_graft_log")
  private def dataDir: HPath = new HPath(rootPath, "data")

  /** Delete data files that were written ahead of a commit that then did
    * not happen (e.g. a speculative fold whose batch turned out to be a
    * pure no-op). The files are uncommitted — no snapshot references them —
    * so this is the same cleanup [[vacuum]] would do at next startup, done
    * eagerly to keep a no-op batch observably side-effect free. Routed
    * through the same dir-sweeping GC as retention so the commit-dir husk
    * (partition subdirs, _SUCCESS marker) goes too. */
  def discardFiles(entries: Seq[GraftLake.FileEntry]): Unit =
    gcDataPaths(entries.map(_.path))

  def init(schema: StructType): Snapshot = {
    fs.mkdirs(logDir)
    fs.mkdirs(dataDir)
    latest().getOrElse {
      require(nBuckets > 0, s"cannot init lake $root with nBuckets=$nBuckets")
      val s = Snapshot(0L, -1L, Map("0" -> schema.json), 0, Nil, None,
        Map.empty, -1L, nBuckets = nBuckets)
      commit(s); s
    }
  }

  /** Current snapshot = max id in the log (the publish fence means the
    * max-id file is always a complete commit). Cached: after the first
    * call this is one directory listing per invocation, zero JSON reads
    * in steady state. */
  def latest(): Option[Snapshot] = manifest.latest().map { snap =>
    if (nBuckets > 0 && snap.nBuckets != nBuckets)
      throw new IllegalStateException(
        s"lake $root was created with nBuckets=${snap.nBuckets} but opened " +
          s"with nBuckets=$nBuckets — the (repo,path)→bucket assignment " +
          "depends on it; use GraftLake.storedBuckets/open the lake with " +
          "the stored count")
    snap
  }

  def schemaOf(s: Snapshot, version: Int): StructType =
    DataType.fromJson(s.schemas(version.toString)).asInstanceOf[StructType]
  def currentSchema(s: Snapshot): StructType = schemaOf(s, s.schemaVersion)

  /** Read table rows for the given buckets (None = all), casting every file
    * group to the current schema (added columns → null, widened → cast).
    *
    * Merge-on-read: when any wanted file is a delta, the per-key LWW winner
    * (max `_offset`, the same operator the write path uses) is selected
    * across base + deltas — so the result is always exactly one live row
    * per key regardless of how many deltas a bucket has accumulated. The
    * winner aggregation keys on the DECIMAL offset encoding; the packed
    * row image in the `max_by` buffer makes this a sort-based aggregate,
    * which is the deliberate merge-on-read trade: reads pay a per-bucket
    * sort so that WRITES are O(batch) delta appends instead of O(table)
    * bucket rewrites.
    * Compaction (MergeApply.runPlan) folds deltas back into base files so
    * steady-state reads stay near the no-delta fast path. */
  def read(spark: SparkSession, s: Snapshot, buckets: Option[Set[Int]] = None,
      includeTombstones: Boolean = false): DataFrame = {
    val cur = currentSchema(s)
    val wanted = buckets match {
      case Some(bs) => s.files.filter(_.bucketsCovered.exists(bs))
      case None => s.files
    }
    // only buckets that actually hold deltas pay the merge-on-read winner
    // aggregation; compacted/base-only buckets stream through untouched —
    // in steady state (compaction keeping delta debt bounded) most of the
    // table takes the cheap path
    val dirtyBuckets: Set[Int] =
      wanted.filter(_.delta).flatMap(_.bucketsCovered).toSet
    val (dirty, clean) = wanted.partition(_.bucketsCovered.exists(dirtyBuckets))
    // a range-delta file may carry rows of buckets OUTSIDE a requested
    // subset — slice by the recomputed bucket (a pure function of the key;
    // compaction passes range-closed sets, so ITS reads never pay this)
    val strayRows = buckets.exists(bs =>
      wanted.exists(f => !f.bucketsCovered.forall(bs.contains)))
    def sliced(df: DataFrame): DataFrame =
      if (!strayRows) df
      else df.filter(bucketExpr(s.nBuckets).isInCollection(buckets.get))
    val merged = aligned(spark, s, dirty).map(df => lwwWinners(cur, sliced(df)))
    val all = (aligned(spark, s, clean).map(sliced).toSeq ++ merged.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(emptyFrame(spark, cur))
    if (includeTombstones) all else all.filter(!col("_deleted"))
  }

  /** Point lookup — the LevelDB point-`seek` analog (the reference serves
    * single positions straight from its store without scanning it:
    * `iteratorFrom(offset)` seeks, reference
    * server/infoPersistent/BinlogDataStorageWithLevelDB.java:146-200):
    * the current LWW image of ONE key, planned over ONLY the files whose
    * bucket range covers the key's bucket — O(range files), never
    * O(table), at ANY table size. The key equality additionally reaches
    * the parquet scans as PushedFilters, so non-matching row groups skip
    * on string min/max stats without reading data pages. Returns 0 or 1
    * rows (absent and tombstoned keys read as empty). */
  def readKey(spark: SparkSession, s: Snapshot, repo: String,
      path: String): DataFrame = {
    val b = GraftLake.bucketOf(repo, path, s.nBuckets)
    read(spark, s, buckets = Some(Set(b)))
      .filter(col("repo") === repo && col("path") === path)
  }

  /** Offline re-shard to `newN` buckets — the migration a growing table
    * needs when its bootstrap bucket count stops matching its size (the
    * (repo,path)→bucket assignment is a pure function of the count, so
    * changing it means rewriting every row exactly once). Reads the
    * current LWW state — tombstones included, so retention/no-resurrection
    * semantics are unchanged — and writes it back as per-bucket BASE files
    * under the new assignment (dense codec: long-lived files), committing
    * ONE snapshot that swaps the whole file list and stamps
    * `nBuckets = newN`.
    *
    * What carries over untouched: offsets, `lastOffset`, lineage, batchId
    * and the schema-version history. Consequences, all by construction:
    * the exactly-once fence and any resume bound are undisturbed; a
    * changelog window crossing the rebucket reports ZERO row changes
    * (every carried row keeps its offset, which the window's lower bound
    * excludes); time travel to pre-rebucket ids keeps reading the old
    * layout until retention drops it. A concurrent committer loses the
    * snapshot CAS; a stream still holding the OLD count fails closed at
    * its next `latest()` (the bucket-count mismatch guard). Reopen
    * handles with the new count after this returns. */
  def rebucket(spark: SparkSession, newN: Int): Snapshot = {
    require(newN > 0, s"rebucket: bucket count must be positive, got $newN")
    val snap = latest().getOrElse(
      throw new IllegalStateException(s"no lake at $root"))
    val oldN = snap.nBuckets
    require(newN != oldN, s"lake $root is already bucketed $newN ways")
    // hold the writer lease across write→commit: the full rewrite is
    // referenced by no snapshot until the commit lands, so a concurrent
    // vacuum would sweep it and the commit would publish dangling paths
    // (the same fence MergeApply.optimize holds)
    val leaseHolder = s"rebucket-${java.util.UUID.randomUUID()}"
    subscribers.renewLease(leaseHolder)
    try {
      val files = writeData(read(spark, snap, includeTombstones = true),
        currentSchema(snap), snap.schemaVersion, snap.batchId,
        delta = false, buckets = newN)
      commit(snap.copy(
        id = snap.id + 1, parentId = snap.id, nBuckets = newN,
        files = files, addedFiles = files,
        removedPaths = snap.files.map(_.path),
        metrics = Map("rebucketFrom" -> oldN.toLong,
          "rebucketTo" -> newN.toLong,
          "rowsWritten" -> files.map(_.rows).sum)))
    } finally subscribers.releaseLease(leaseHolder)
  }

  /** Read `files` with each file's own schema version, aligned to `s`'s
    * current schema ([[SchemaEvolution.alignTo]]). */
  private[graft] def aligned(spark: SparkSession, s: Snapshot,
      files: Seq[FileEntry]): Option[DataFrame] = {
    val cur = currentSchema(s)
    files.groupBy(_.schemaVersion).toSeq.sortBy(_._1).map { case (ver, fs) =>
      val vSchema = schemaOf(s, ver)
      SchemaEvolution.alignTo(
        spark.read.schema(vSchema).parquet(fs.map(_.path): _*), vSchema, cur)
    }.reduceOption(_ unionByName _)
  }

  /** Oldest snapshot id still inside the retention window — the floor of
    * valid [[snapshotAt]] / [[changesBetween]] bounds (one log listing, no
    * manifest reads). Subscribers compare their last-applied id against it
    * before asking for a window (the too-old-offset guard's analog for
    * chained consumers — reference O3). */
  def oldestRetainedId(): Option[Long] = manifest.oldestRetainedId()

  /** Retained snapshot history, oldest first, in stored form (no chain
    * reconstruction — `files` may be empty on incremental entries, but
    * id/batchId/schemaVersion/lastOffset/metrics are always present):
    * the valid id bounds for [[snapshotAt]] / [[changesBetween]]. */
  def snapshotLog(): Seq[Snapshot] = manifest.snapshotLog()

  /** Time travel (the `VERSION AS OF` analog): the full table state as of
    * committed snapshot `id`, readable via [[read]]. Reconstruction walks
    * the same bounded manifest chain as [[latest]], truncated at `id` —
    * O(manifestEvery) metadata reads, independent of table size. Errors
    * when `id` was never committed or has left the retention window
    * ([[expire]] anchors any chain it truncates, so every retained id
    * stays reconstructable). */
  def snapshotAt(id: Long): Snapshot = manifest.snapshotAt(id, root)

  /** CDC-out / incremental changelog (the incremental-scan analog —
    * downstream consumers chain pipelines off this lake without replaying
    * the feed): the NET per-key changes that move the table from its state
    * at snapshot `fromId` (exclusive) to `toId` (inclusive). For every key
    * touched in the window the result holds its LWW winner image over the
    * window — which IS its state at `toId`, since a touched key's newest
    * row lies inside the window — with `_deleted = true` marking a net
    * delete. Applying the result to the `fromId` state as an
    * upsert+delete batch therefore reproduces the `toId` state exactly
    * (ChangelogSpec pins this against the time-travel diff).
    *
    * Cost is O(window), never O(table): the raw snapshot JSONs carry
    * `addedFiles`, so only files ADDED by window commits are scanned.
    * Compaction rewrites riding those commits add base files that hold
    * pre-window rows too — the offset-window filter (its `fileIdx`
    * conjunct reaches parquet row-group stats) skips them without reading
    * data, and window rows rewritten by compaction dedup against their
    * delta copies in the winner fold (same key, same offset, same image).
    *
    * Caveat: compaction's tombstone GC physically drops `_deleted` rows
    * below the feed-retention horizon, so consume changelogs within feed
    * retention — the same bound O3 imposes on resumes. */
  def changesBetween(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    require(fromId <= toId, s"changesBetween: fromId $fromId > toId $toId")
    val byId = manifest.byId()
    val from = manifest.rawFor(fromId, byId)
    val to = manifest.rawFor(toId, byId)
    val cur = currentSchema(to)
    val winFiles = ((fromId + 1) to toId).flatMap(i => manifest.rawFor(i, byId).added)
    val empty = emptyFrame(spark, cur)
    to.lastOffset match {
      case None => empty // nothing ever committed up to toId
      case Some(hi) =>
        val windowed = aligned(spark, to, winFiles).map { df =>
          val upper = col("_offset") <= Offset.literal(hi)
          val bounded = from.lastOffset match {
            // the struct comparison cannot push to parquet; its implied
            // fileIdx leaf bound can — row-group stats then skip the
            // pre-window rows of compaction-rewritten base files
            case Some(lo) => df.filter(
              col("_offset.fileIdx") >= lo.fileIdx &&
                col("_offset") > Offset.literal(lo) && upper)
            case None => df.filter(upper)
          }
          lwwWinners(cur, bounded)
        }
        windowed.getOrElse(empty)
    }
  }

  /** Write `df`'s `schema` columns as new data files for this commit, one
    * bucket (range) per directory, each row's bucket computed here under
    * `buckets` (the lake's count; [[rebucket]] passes its new one); returns
    * the finished entries, stamped `schemaVersion` and `delta`.
    * `transient_ = true` marks short-lived files (delta appends, folded
    * away by the next compaction of their bucket): they encode with snappy
    * — ~3× cheaper than the session's long-lived-file codec (zstd in the
    * bench) on the per-microbatch hot path — while base files written at
    * compaction keep the dense codec they'll be scanned with for their
    * whole lifetime.
    * `rangeWidth > 1` writes bucket-RANGE files: the partition dir is the
    * range lo (`bucket - bucket % rangeWidth`) and each returned entry
    * spans `[lo, lo + rangeWidth)` — O(nBuckets/rangeWidth) files per
    * commit instead of O(touched buckets). Delta writes only; folds write
    * per-bucket (width 1) base files.
    * `sortCols` additionally orders rows WITHIN each output file (after
    * the mandatory dir-column sort) — offline optimize passes the key
    * columns so long-lived base files carry tight per-row-group min/max
    * key stats (point lookups then skip non-matching row groups without
    * reading data pages). Never set on the streaming hot path: the sort
    * is CPU the per-microbatch write shouldn't pay. */
  def writeData(df: DataFrame, schema: StructType, schemaVersion: Int,
      batchId: Long, delta: Boolean,
      transient_ : Boolean = false,
      rangeWidth: Int = 1,
      sortCols: Seq[Column] = Nil,
      buckets: Int = nBuckets): Seq[FileEntry] = {
    val commitDir = new HPath(dataDir,
      s"commit-$batchId-${UUID.randomUUID().toString.take(8)}")
    // pre-sorting by the partition dir keeps the dynamic-partition writer
    // single-file-at-a-time (no writer-per-key fanout/sort-spill pass);
    // partitionBy consumes the dir column, so the bucket/range id lives
    // only in the directory name + manifest — storing it again in every
    // data file would be permanent dead weight (readers recompute the
    // bucket from (repo, path) when they must slice a range file).
    val dirCol =
      if (rangeWidth <= 1) col("_bucket")
      else col("_bucket") - pmod(col("_bucket"), lit(rangeWidth))
    val part = df.select(schema.fieldNames.map(col).toSeq :+
      bucketExpr(buckets).as("_bucket"): _*).repartition(dirCol)
    val writer = part.withColumn("_bdir", dirCol).drop("_bucket")
      .sortWithinPartitions(col("_bdir") +: sortCols: _*)
      .write.partitionBy("_bdir").options(NioLocalFileSystem.writeOptions(fs))
    // transient files (deltas; first-load bases destined for a re-encoding
    // fold) trade size for encode speed: snappy instead of the session
    // codec. Dictionary encoding STAYS on even for transients — an A/B
    // showed disabling it ~4× slower end-to-end: repo/lang/op
    // columns are highly repetitive, so plain encoding bloats the files
    // and the folds that re-read them pay the IO back with interest.
    (if (transient_) writer.option("compression", "snappy") else writer)
      .parquet(commitDir.toString)
    if (!fs.exists(commitDir)) return Nil
    val entries = fs.listStatus(commitDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("_bdir="))
      .flatMap { bdir =>
        val b = bdir.getName.stripPrefix("_bdir=").toInt
        fs.listStatus(bdir).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
          .map(p => (store.externalize(p), b))
      }
    // footer reads are independent metadata fetches. Up to a few hundred
    // files, parallel driver-side futures are cheapest (no job scheduling);
    // past that — the thousands of buckets a 100 TB table needs — the reads
    // go to the executors as one tiny metadata job, so commit-time driver
    // IO stays O(1) in the file count.
    (if (entries.size <= 256) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.traverse(entries) { case (p, b) =>
          Future((p, b, GraftLake.footerRows(p)))
        }, 5.minutes)
    } else {
      df.sparkSession.sparkContext
        .parallelize(entries, math.min(entries.size, 64))
        .map { case (p, b) => (p, b, GraftLake.footerRows(p)) }
        .collect().toSeq
    }).map { case (p, lo, rows) =>
      FileEntry(p, lo, schemaVersion, rows, delta,
        bucketHi = if (rangeWidth <= 1) lo else lo + rangeWidth - 1)
    }
  }

  /** Atomic publish of `s` through [[MetaStore.publishString]]: a tmp
    * write then link(2) on a local root, a tmp write then rename on any
    * other (HDFS), a create-exclusive under [[GraftLake.Publish.Cas]]. None
    * overwrites an existing name, so a snapshot id already in the log, or
    * a publish race lost to another writer, fences with an
    * IllegalStateException.
    *
    * `s.files` must be the FULL file list (in-memory form). What lands on
    * disk is normally just the delta vs the cached parent — O(touched
    * buckets); every `manifestEvery`-th commit (or when the parent isn't
    * cached, e.g. first commit after a cold open) writes the full list so
    * reconstruction chains stay bounded. If the caller didn't stamp
    * `addedFiles`/`removedPaths`, they are derived by a path diff against
    * the parent. The published manifest and the returned image carry
    * [[GraftLake.FormatVersion]]. */
  def commit(s: Snapshot): Snapshot = manifest.commit(s)

  /** Snapshot expiry (retention R1 analog — reference
    * server/infoPersistent/BinlogDataStorageWithLevelDB.java:291-352):
    * keep at least the last `keep` snapshots ([[Manifest.expire]]), and
    * delete the data files the dropped snapshots recorded as removed. A
    * file's presence interval in the snapshot chain is contiguous (paths
    * are never re-added), so those are referenced by no retained snapshot:
    * retention never lists the data directory and its IO is O(dropped
    * snapshots + files they removed), NOT O(table). Orphans from crashed
    * commits are outside any snapshot and are swept by [[vacuum]]. */
  def expire(keep: Int): Unit = {
    // keep <= 0 would compute a cut PAST the newest id, anchor a
    // nonexistent id and then delete every snapshot JSON — a bricked lake
    // (reachable from the CLI verb). There is no meaning to retaining
    // fewer than the current snapshot; fail closed.
    require(keep >= 1, s"expire: keep must be >= 1, got $keep")
    gcDataPaths(manifest.expire(keep))
  }

  /** Delete the given data files + any commit dir they leave empty —
    * touches ONLY the directories of the deleted files. */
  private def gcDataPaths(paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    paths.foreach(p => store.delete(new HPath(p)))
    // a commit dir is removable when no parquet remains under it; check
    // only dirs we just deleted from (path = <commitDir>/_bdir=N/file)
    val commitDirs = paths.map(p => new HPath(p).getParent.getParent)
      .distinct.filter(d => d != null && fs.exists(d))
    commitDirs.foreach { d =>
      metaOps.incrementAndGet()
      if (!holdsParquet(d)) store.delete(d, recursive = true)
    }
  }

  /** Every file under `dir`, recursively and lazily. */
  private def filesUnder(dir: HPath): Iterator[HPath] = {
    val it = fs.listFiles(dir, true)
    new Iterator[HPath] {
      def hasNext: Boolean = it.hasNext
      def next(): HPath = it.next().getPath
    }
  }

  private def holdsParquet(dir: HPath): Boolean =
    filesUnder(dir).exists(_.getName.endsWith(".parquet"))

  /** Full-sweep GC: recursively lists the data directory and deletes any
    * parquet file no retained snapshot references — i.e. orphans from
    * commits that crashed between writeData and the snapshot rename.
    * O(table files), so it is NOT on the per-commit path: the streaming
    * job runs it once at startup (the only time fresh orphans can exist —
    * they are produced by the previous process's crash), and the CLI
    * exposes it as `vacuum`. The reference set is the newest snapshot's
    * files plus [[Manifest.referencedPaths]] — no chain reconstruction.
    *
    * MUST NOT run under a live writer: a mid-batch writer's uncommitted
    * output (delta write, speculative fold) is referenced by no snapshot
    * yet, so the sweep would delete files the imminent commit then points
    * at — a permanently corrupt lake. Refused (fail closed) while a fresh
    * FOREIGN lease exists ([[Subscribers.renewLease]]); `self` names the
    * caller's own lease so a crash-restart sweeps its predecessor's
    * orphans without waiting out its own stale lease. */
  def vacuum(self: String = "", leaseTtlMs: Long = 120000L): Unit = {
    if (subscribers.liveWriter(self, leaseTtlMs).isDefined) {
      // a just-terminated stream releases its lease asynchronously (the
      // listener bus) — one short grace recheck keeps stop-then-vacuum
      // deterministic; only the refusal path pays it
      Thread.sleep(1000)
      subscribers.liveWriter(self, leaseTtlMs).foreach { h =>
        throw new IllegalStateException(
          s"vacuum refused: writer '$h' holds a fresh lease on $root — the " +
            "full sweep would delete a live batch's uncommitted files; stop " +
            "the stream first, or wait out the lease (force: leaseTtlMs=0)")
      }
    }
    if (!fs.exists(logDir) || !fs.exists(dataDir)) return // nothing to sweep
    manifest.referencedPaths(graceMs = leaseTtlMs).foreach { inLog =>
      val referenced = inLog ++ latest().toSeq.flatMap(_.files.map(_.path))
      filesUnder(dataDir)
        .filter(p => p.getName.endsWith(".parquet") && !referenced(store.externalize(p)))
        .toList.foreach(fs.delete(_, false))
      // remove commit dirs that no longer hold any parquet file
      fs.listStatus(dataDir).toSeq.filter(_.isDirectory).foreach { d =>
        if (!holdsParquet(d.getPath)) fs.delete(d.getPath, true)
      }
    }
  }
}
