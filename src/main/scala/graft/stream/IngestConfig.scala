package graft.stream

import graft.feed.BinlogFeedGen
import graft.model.{Offset, Op}

/** Resume modes — the reference's offset negotiation (D8;
  * reference: server/akkaSystem/TableBinglogActor.java:95-116,
  * base/enums/OffsetEnum.java:13). */
sealed trait ResumeMode
object ResumeMode {
  /** start from the latest feed offset at job start (reference CONTINUE) */
  case object Continue extends ResumeMode
  /** resume from checkpoint / lake state (reference LAST_POS) */
  case object LastPos extends ResumeMode
  /** explicit replay-from offset, validated (reference FROM_POS) */
  final case class FromPos(offset: Offset) extends ResumeMode
  /** GTID-style named resume (the reference's binlog client resumes from a
    * GTID set when configured — reference server/relay/BinlogProducer.java:59-60):
    * the name resolves through `IngestConfig.gtidMap`, falling back to the
    * reference's `fileIdx_pos_rowIdx` seqId syntax; then behaves exactly
    * like [[FromPos]] (same strict O3 validation). */
  final case class FromGtid(gtid: String) extends ResumeMode
}

/** One watched (db, table) subscription with its own target lake, filters
  * and naming — the reference's per-table config unit (D1/F5/F4;
  * reference: server/configParser/ConfigLoader.java:34-109 parses a LIST of
  * watched tables, each with per-handler accept-ops and filters;
  * routing: server/akkaSystem/SingleDbBinglogActor.java:120-127). */
final case class TableSpec(
    db: String,
    table: String,
    lakeRoot: String,
    nBuckets: Int = 32,
    /** reference `acceptEvent` analog (F2/F5 per-handler change-type set) */
    acceptOps: Set[String] = Op.rowOps.toSet,
    /** reference `filterTimeChange` analog for no-op suppression (F3) */
    excludedCols: Set[String] = Set("commit"),
    /** F4 — the user predicate DSL. The reference compiles handler filters
      * like `where (old.status = 1) and new.status = 2` into a per-event
      * evaluator (client/config/ChangeDataFilter.java:42-104,
      * TableBinlogProcessor.java:89-113); here the whole parser/evaluator is
      * Catalyst: any SQL boolean expression over the event envelope —
      * `before.<col>` / `after.<col>` image structs, `op`, `ts`, `offset`.
      * DDL events always pass (control flow, not data). */
    filterSql: Option[String] = None,
    /** P3 — snake_case source columns land as camelCase lake columns
      * (reference utils/StrNameConvert.java:24-36). Applies to DDL-evolved
      * columns; extras are looked up under the original source name. */
    camelize: Boolean = false,
    /** snapshots kept by expiry (retention R1 analog) */
    expireKeep: Int = 50,
    /** fold a bucket's deltas into its base once deltaRows >
      * compactFactor × baseRows — bounds amortized write amplification at
      * (1 + 1/compactFactor) × ingested rows. Default 4.0: the fold
      * re-reads and re-writes base rows at a cadence ∝ 1/compactFactor, and
      * at 2.0 that was ~40% of steady-state batch CPU. 4.0 halves it
      * for at most compactFactor× delta rows of merge-on-read debt per
      * bucket — the write path is the hot path in a CDC sink, reads
      * amortize the fold either way (and `maxDeltaFiles` still bounds the
      * per-bucket file count independently). */
    compactFactor: Double = 4.0,
    /** ... or once a bucket holds this many delta files (read-
      * amplification bound for long runs of small microbatches) */
    maxDeltaFiles: Int = 16,
    /** incremental compaction: at most this many buckets fold per commit,
      * worst delta debt first — keeps per-batch latency flat instead of
      * paying a whole-table fold spike when many buckets cross the
      * threshold in the same batch. Deferred buckets
      * stay correct (merge-on-read) and fold on a later commit. */
    maxCompactBuckets: Int = 16)

final case class IngestConfig(
    feedDir: String,
    lakeRoot: String,
    checkpointDir: String,
    nBuckets: Int = 32,
    maxFilesPerTrigger: Int = 8,
    resumeMode: ResumeMode = ResumeMode.LastPos,
    /** D1 — multi-table subscriptions; when non-empty these REPLACE the
      * single-table default: the generator's watched table into
      * `lakeRoot` with `nBuckets` and every other [[TableSpec]] default. */
    tables: Seq[TableSpec] = Nil,
    /** named resume points for [[ResumeMode.FromGtid]] (GTID-set analog) */
    gtidMap: Map[String, Offset] = Map.empty,
    /** D10 — subscriber identity, validated against each target lake's
      * client registry at subscription start (reference
      * base/identityCheck/IdentityCheckerJustLocal.java:33-42 rejects
      * unknown clients at registration). None skips the check. */
    clientId: Option[String] = None,
    /** Above this many distinct keys in a batch the winner semi-join runs
      * shuffle-hash instead of broadcast (MergeApply.winnerProbe) — the
      * broadcast build side is a hashed key plus three offset segments per
      * key, so 4M keys ≈ 100 MB, about the most one should ship to every
      * executor. The
      * streaming path stays under this by construction (maxFilesPerTrigger
      * bounds batch size); one-shot replay of a huge retained feed is what
      * trips it (an unbounded broadcast is a driver OOM at 10^8 keys). */
    broadcastKeyLimit: Long = 4000000L) {

  /** The subscription list this config denotes (single-table configs are a
    * one-element list). */
  def specs: Seq[TableSpec] =
    if (tables.nonEmpty) tables
    else Seq(TableSpec(BinlogFeedGen.WatchedDb, BinlogFeedGen.WatchedTable,
      lakeRoot, nBuckets))
}

final case class BatchMetrics(
    batchId: Long,
    eventsIn: Long,
    watchedRows: Long,
    noopDrops: Long,
    dedupDrops: Long,
    applied: Long,
    ddls: Long,
    mergeLatencyMs: Long,
    affectedBuckets: Int,
    replayedSkip: Boolean,
    statsMs: Long = 0,
    writeMs: Long = 0,
    commitMs: Long = 0,
    /** delta rows written this batch — in steady state ∝ batch size, NOT
      * table size */
    rowsWritten: Long = 0,
    compactedBuckets: Int = 0,
    compactMs: Long = 0)
