package graft.stream

import graft.cli.Args
import graft.table.{GraftLake, MetaStore, SchemaEvolution}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("graft-changelog")` — the lake's CDC-out
  * changelog as a first-class Structured Streaming SOURCE.
  *
  * [[ChangelogChain.follow]] already gives lake→lake subscription as a
  * driver-side loop; this source exposes the same incremental windows to
  * ARBITRARY Spark streaming pipelines: the snapshot log is the stream,
  * one committed snapshot range per micro-batch, each batch the NET
  * per-key changes of its window ([[GraftLake.changesBetween]] — an
  * O(window) scan, never O(table)). Downstream composition is plain
  * Structured Streaming: watermarked aggregations, `dropDuplicates`,
  * `foreachBatch` into any sink — the reference's subscription fan-out
  * (client/akkaSystem/SingleTableBinlogClientActor.java:106-142, a client
  * actor consuming the server's per-table change stream from its own
  * acked position) with Spark's own checkpointing as the ack ledger.
  *
  * Semantics:
  *  - '''Offsets''' are snapshot ids ([[LongOffset]]); Spark's offset log
  *    checkpoints them, so restart resumes exactly after the last
  *    committed window — exactly-once window delivery to transactional /
  *    idempotent sinks without any source-side bookkeeping. (Standard
  *    Structured Streaming semantics: a crash between the sink write and
  *    the commit-log write replays that one window on restart — its rows
  *    carry the same keys and offsets, so any LWW-folding consumer
  *    absorbs the replay idempotently.)
  *  - '''First batch''' is a full-state bootstrap (the net change from
  *    empty: every live row plus retained tombstones, exactly what
  *    [[ChangelogChain.sync]] feeds a fresh destination), unless
  *    `.option("bootstrap", "none")` starts tailing from the snapshot
  *    current at query start.
  *  - '''Batch plans are BATCH plans.''' The window query (pushed-filter
  *    parquet scans + offset-window bounds + per-key LWW winner fold)
  *    plans as ordinary batch Catalyst under the hood and enters the
  *    stream as one streaming leaf ([[StreamingShim]]) — the winner fold
  *    must NOT become a stateful streaming aggregate, the window is
  *    already complete when the batch is cut.
  *  - '''Schema evolution''': the run's schema is fixed at query start
  *    (the Delta/Kafka convention). A window that ends PAST an evolution
  *    fails the query with an explicit restart message — serving it would
  *    silently drop the new columns; the restarted query adopts the
  *    evolved schema, re-plans the pending window from the offset log,
  *    and serves it with older-version rows ALIGNED UP to the new schema
  *    (field-id / alias-chain resolution, same as the lake read path) —
  *    pinned by ChangelogStreamSpec.
  *  - '''Retention''' (reference O3, for subscribers): a checkpoint
  *    whose last window left the source's retention gets the explicit
  *    "subscription too old — re-bootstrap" refusal, not a manifest
  *    internal error.
  *  - '''D10''': `.option("clientId", id)` gates query start against the
  *    source lake's client registry and heartbeats per committed batch,
  *    like any other subscriber.
  *  - '''D4 flow control''': `.option("maxSnapshotsPerTrigger", k)` caps
  *    each post-bootstrap window at k source snapshots (admission
  *    control), so a fallen-behind follower catches up in bounded
  *    micro-batches instead of one giant window.
  */
final class ChangelogSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-changelog"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val lake = ChangelogStreamSource.openLake(parameters)
    val snap = lake.latest().getOrElse(throw new IllegalStateException(
      s"graft-changelog: no lake (or an empty one) at ${lake.root} — " +
        "the source needs at least one committed snapshot"))
    ChangelogStreamSource.analyzedIds
      .put(ChangelogStreamSource.normRoot(lake.root), snap.id)
    (shortName(), lake.currentSchema(snap))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new ChangelogStreamSource(ctx.sparkSession, parameters, metadataPath)
}

object ChangelogStreamSource {
  /** `load()`-time analysis snapshot id per lake root. The provider's
    * `sourceSchema` records which snapshot its schema came from and the
    * source constructor pins the run's base to it — needed because
    * Spark's `DataSource.providingInstance()` is a fresh provider PER
    * CALL, so provider-instance state cannot carry from sourceSchema to
    * createSource, and without the pin a DDL committed between `load()`
    * (which fixes the plan's attributes) and `start()` (which constructs
    * the source) would give the source a NEWER schema than the plan —
    * every batch then dies on the runner's positional-arity assert
    * instead of this source's crafted evolution restart remedy. Keyed by
    * the FileSystem-qualified root ([[normRoot]]) and CONSUMED by the
    * source constructor (removed on read), so the map stays bounded by
    * in-flight load()s. Last analysis wins: two concurrent load()s on the
    * SAME lake straddling a DDL keep only the newer analysis — the older
    * query fails its first batch on the runner's schema check, exactly as
    * with no cache, and a fresh load() resolves it. */
  private[stream] val analyzedIds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The options this source reads, matched ignoring case; any other key
    * fails the query before it starts, since a misspelled option that is
    * silently ignored changes what a subscriber receives. */
  private val options =
    Seq("path", "clientId", "bootstrap", "maxSnapshotsPerTrigger", "bootstrapBuckets")

  private[stream] def opt(parameters: Map[String, String], key: String) =
    parameters.collectFirst { case (n, v) if n.equalsIgnoreCase(key) => v }

  private[stream] def openLake(parameters: Map[String, String]): GraftLake = {
    val given = parameters match { // Spark's lower-cased view keeps the user's keys
      case m: CaseInsensitiveMap[String @unchecked] => m.originalMap.keys
      case m => m.keys
    }
    given.find(k => !options.exists(_.equalsIgnoreCase(k))).foreach { k =>
      throw new IllegalArgumentException(s"graft-changelog: unknown option " +
        s"'$k' (expected one of ${options.mkString(", ")})")
    }
    val root = opt(parameters, "path").getOrElse(
      throw new IllegalArgumentException(
        "graft-changelog source requires option 'path' (the lake root)"))
    new GraftLake(root, GraftLake.storedBuckets(root).getOrElse(1))
  }

  /** FileSystem-qualified form of a lake root — the [[analyzedIds]] key,
    * so `file:/x` and `/x` (or a trailing slash) address the same pin. */
  private[stream] def normRoot(root: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    try p.getFileSystem(GraftLake.hadoopConf()).makeQualified(p).toString
    catch { case _: Throwable => root }
  }
}

final class ChangelogStreamSource(spark: SparkSession,
    parameters: Map[String, String],
    metadataPath: String = "") extends Source
    with SupportsAdmissionControl {
  import ChangelogStreamSource._

  private val lake = openLake(parameters)
  private val clientId = opt(parameters, "clientId")
  // fail-closed on a typo'd mode: "ful"/"true"/"off" silently selecting
  // tail-from-now would skip the bootstrap and lose every pre-existing
  // key downstream with no error anywhere
  private val bootstrapFull =
    opt(parameters, "bootstrap").map(_.trim.toLowerCase) match {
      case None | Some("full") => true
      case Some("none") => false
      case Some(other) => throw new IllegalArgumentException(
        s"graft-changelog: unknown bootstrap mode '$other' " +
          "(expected 'full' or 'none')")
    }

  /** Flow control (reference D4, for subscribers — the
    * `maxFilesPerTrigger` credit of the ingest job applied to the
    * subscription): cap each catch-up window at this many source
    * snapshots, so a fallen-behind follower drains its backlog as
    * bounded micro-batches (bounded window scan, bounded sink commit)
    * instead of one giant batch. Post-bootstrap windows only — the
    * bootstrap is one full-state read regardless. */
  private val maxSnapshotsPerTrigger: Option[Long] =
    // the Int bound keeps ReadLimit.maxFiles(n.toInt) from overflowing
    opt(parameters, "maxSnapshotsPerTrigger").map(Args.num("graft-changelog",
      "maxSnapshotsPerTrigger", _, _.toLongOption, 1L, Int.MaxValue.toLong))

  /** Chunked bootstrap: with
    * `.option("bootstrapBuckets", k)`, a full bootstrap is served as
    * ceil(nBuckets / k) successive micro-batches of ≤ k source bucket
    * ranges of the PINNED base snapshot's state instead of ONE uncapped
    * full-table batch — a follower of a 10^10-row lake commits its
    * cold start in bounded exactly-once windows (each chunk rides the
    * normal offset-log/commit-log protocol, so a mid-bootstrap crash
    * resumes at the first unserved chunk without re-serving completed
    * ones). Chunk windows are encoded as NEGATIVE offsets below the real
    * snapshot-id space: chunk j of K ends at offset j − K, and the tail
    * continues from the pinned base id after chunk K−1 (offset −1).
    * Default 0 = the one-shot bootstrap. */
  private val bootstrapChunkBuckets: Int =
    opt(parameters, "bootstrapBuckets").map(Args.num("graft-changelog",
      "bootstrapBuckets", _, _.toIntOption, 1, Int.MaxValue)).getOrElse(0)
  /** End of the last window this run planned/served — the cap base when
    * the runner doesn't hand `latestOffset` a start offset. */
  @volatile private var lastPlanned: Option[Long] = None

  clientId.foreach(lake.subscribers.checkClient) // D10: gate at subscription start

  /** The snapshot the ANALYZED plan's schema came from (the provider's
    * [[ChangelogStreamSource.analyzedIds]] record — a DDL between
    * `load()` and `start()` must not move the run's schema off the
    * plan's), else the tip at source creation (direct construction, or
    * the analysis snapshot left retention in between — the run then
    * fails the runner's schema check and a fresh `load()` resolves it).
    * Fixes the run's schema AND (for `bootstrap=none`) the tail base;
    * its cumulative schema-version map aligns any older-version window
    * up to the run's schema. */
  private val baseSnap = Option(analyzedIds.remove(normRoot(lake.root)))
    .flatMap(id => scala.util.Try(lake.snapshotAt(id.longValue)).toOption)
    .orElse(lake.latest()).getOrElse(
      throw new IllegalStateException(
        s"graft-changelog: no lake (or an empty one) at ${lake.root}"))

  /** Streaming schema, fixed for this query run (snapshot at creation). */
  override val schema: StructType = lake.currentSchema(baseSnap)

  /** The run's PERSISTED base: `(base snapshot id, bootstrap chunk
    * count)`, written once under the checkpoint's source metadata dir at
    * FIRST source creation and read back by every later creation (the
    * FileStreamSource metadata seam). Two consumers:
    *  - `bootstrap=none`: the tail base. Without the pin, a crash after
    *    batch 0's offset was logged but before it committed re-planned
    *    `getBatch(None, E0)` against a NEW source whose creation-time tip
    *    was already ≥ E0 — an empty window silently swallowing the
    *    originally planned rows. The persisted base makes the re-planned
    *    batch 0 deterministic.
    *  - chunked bootstrap: the pinned snapshot whose state every chunk
    *    reads (all chunks MUST read one consistent snapshot) and the
    *    chunk count the negative-offset mapping is defined by (an option
    *    flip across a restart must not re-map half-served chunks).
    * Direct construction (no metadataPath — tests, ad-hoc embedding)
    * keeps the in-memory base: single-process semantics are unchanged. */
  private val (persistedBaseId: Long, nChunks: Int) = {
    val wantChunks =
      if (!bootstrapFull) 1
      else ChangelogChain.chunkCount(baseSnap.nBuckets, bootstrapChunkBuckets)
    if (metadataPath == null || metadataPath.isEmpty) (baseSnap.id, wantChunks)
    else {
      val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-source-base")
      // a blank/torn write reads as absent and is published again
      MetaStore.at(p).writeOnce(p, _.split("\\s+").toSeq match {
        case Seq(b, k) => b.toLongOption.flatMap(bv =>
          k.toIntOption.map(kv => (bv, kv)))
        case _ => None
      })(s"${baseSnap.id} $wantChunks")
    }
  }

  /** Next window end from `base` (None = nothing planned yet): the next
    * bootstrap chunk while any remain, else the admission-capped tip.
    * Returns None for "no new data". */
  private def nextEnd(base: Option[Long]): Option[Long] = {
    def cappedTip(from: Option[Long]): Option[Long] = {
      val tip = lake.latest().map(_.id)
      tip.map(t => (from, maxSnapshotsPerTrigger) match {
        case (Some(b), Some(k)) => math.min(t, b + k)
        case _ => t
      }).filter(t => from.forall(t > _))
    }
    base match {
      case None if nChunks > 1 => Some(-nChunks.toLong) // first chunk
      case None => cappedTip(None) // one-shot first window
      case Some(b) if b < -1 => Some(b + 1) // next bootstrap chunk
      case Some(b) if b == -1 => // bootstrap complete: tail from the base
        cappedTip(Some(persistedBaseId))
      case Some(b) => cappedTip(Some(b))
    }
  }

  override def getOffset: Option[OffsetV1] =
    // defense in depth: the v1 path honors the same chunking +
    // admission cap as latestOffset instead of the raw tip
    nextEnd(lastPlanned).orElse(lastPlanned).map(LongOffset(_))

  /** Admission-controlled next window end (the path the runner takes once
    * a source implements [[SupportsAdmissionControl]] —
    * FileStreamSource's pattern): the next bootstrap chunk while any
    * remain, else at most `maxSnapshotsPerTrigger` snapshots past the
    * batch start. The start the runner passes (the last planned end) is
    * preferred; `lastPlanned` covers runners that pass none. An UNCHUNKED
    * run's first window stays uncapped — one full-state read by design
    * (chunk it with `bootstrapBuckets`). */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val base = Option(start).map(o => o.json.trim.toLong).orElse(lastPlanned)
    nextEnd(base) match {
      case Some(end) => lastPlanned = Some(end); LongOffset(end)
      case None => base.map(LongOffset(_)).orNull // no new data
    }
  }
  override def getDefaultReadLimit: ReadLimit =
    if (maxSnapshotsPerTrigger.isDefined)
      ReadLimit.maxFiles(maxSnapshotsPerTrigger.get.toInt)
    else ReadLimit.allAvailable()

  private def asId(o: OffsetV1): Long = o.json.trim.toLong

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endId = asId(end)
    lastPlanned = Some(endId) // cap base for the next admission decision
    val startId = start.map(asId)
    if (endId < 0) return chunkBatch(startId, endId)
    require(startId.forall(_ >= -1),
      s"graft-changelog: window ($startId, $endId] spans unserved " +
        "bootstrap chunks — corrupt offset log or a bootstrapBuckets " +
        "change mid-bootstrap")
    val fromId: Option[Long] = startId match {
      // the batch right after the last bootstrap chunk (or its replay):
      // tail from the PINNED base the chunks bootstrapped to
      case Some(s) if s < 0 => Some(math.min(persistedBaseId, endId))
      case Some(s) => Some(s)
      // bootstrap=none tails from the PERSISTED base, not this source
      // instance's creation-time tip: a re-planned batch 0 after a crash
      // must re-serve exactly the originally planned window
      case None if !bootstrapFull => Some(math.min(persistedBaseId, endId))
      case None => None
    }
    // the retention guard covers BOTH window bounds — after a long-enough
    // pause even the planned window's END leaves retention
    ChangelogChain.requireRetained(lake, fromId.fold(endId)(math.min(_, endId)),
      "the graft-changelog checkpointed window references")
    val endSnap = lake.latest().filter(_.id == endId)
      .getOrElse(lake.snapshotAt(endId))
    // Schema discipline (the Delta/Kafka convention — one schema per run):
    // a window whose end schema is NEWER than the run's fails with the
    // restart remedy (serving it would silently drop the new columns); a
    // window whose end schema is OLDER aligns UP to the run's schema (the
    // same id/alias resolution the lake read path applies to old files) —
    // this is the batch Spark re-plans from the offset log after an
    // evolution restart, so it MUST serve, not loop on the same error.
    if (endSnap.schemaVersion > baseSnap.schemaVersion)
      throw new IllegalStateException(
        s"graft-changelog: the source lake's schema evolved (now version " +
          s"${endSnap.schemaVersion} at snapshot $endId) — restart the " +
          "streaming query to adopt it; the checkpoint resumes from the " +
          "last committed window")
    val window = fromId match {
      case Some(f) if f >= endId => // no new window (tail probe overlap)
        GraftLake.emptyFrame(spark, schema)
      case Some(f) => lake.changesBetween(spark, f, endId)
      case None => // net change from empty = full state incl. tombstones
        lake.read(spark, endSnap, includeTombstones = true)
    }
    conformAndShim(window, endSnap.schemaVersion)
  }

  /** One bootstrap-chunk micro-batch: the pinned base snapshot's full
    * state for the bucket ranges of chunks `(startId, endId]` under the
    * negative-offset mapping (chunk j of K ends at offset j − K). Every
    * chunk reads the SAME pinned snapshot — the union of all K chunk
    * windows is row-for-row the one-shot bootstrap of that snapshot, and
    * each chunk commits through the ordinary offset/commit-log protocol,
    * so a mid-bootstrap crash resumes at the first unserved chunk. */
  private def chunkBatch(startId: Option[Long], endId: Long): DataFrame = {
    ChangelogChain.requireRetained(lake, persistedBaseId,
      "the graft-changelog mid-bootstrap checkpoint pins")
    val baseState = lake.snapshotAt(persistedBaseId)
    val jLo = startId.map(s => (s + nChunks + 1).toInt).getOrElse(0)
    val jHi = (endId + nChunks).toInt
    val buckets = ChangelogChain.chunkBuckets(baseState.nBuckets, nChunks,
      jLo, jHi)
    val window = lake.read(spark, baseState, Some(buckets),
      includeTombstones = true)
    conformAndShim(window, baseState.schemaVersion)
  }

  /** Align an older-version window up to the run's schema
    * ([[SchemaEvolution.alignTo]]), then compile it behind one streaming
    * leaf in positional parity with the declared schema (the runner
    * aliases the batch plan's output to the source attributes by POSITION). */
  private def conformAndShim(window: DataFrame, version: Int): DataFrame = {
    val conformed =
      if (version == baseSnap.schemaVersion) window
      else SchemaEvolution.alignTo(window, lake.schemaOf(baseSnap, version), schema)
    StreamingShim.asStreamingBatch(
      conformed.select(schema.fieldNames.map(col).toSeq: _*))
  }

  override def commit(end: OffsetV1): Unit =
    clientId.foreach(lake.subscribers.heartbeat)

  override def stop(): Unit = ()
}
