package graft.stream

import graft.model.{DdlChange, Offset, Op}
import graft.table.{GraftLake, SchemaEvolution}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the keyed stats scan ([[BatchStats.scan]]) learns about one batch
  * of one watched table. `keyed` holds one persisted row per (repo, path)
  * key, with its winner offset `_woff`; the caller unpersists it. */
private[stream] final case class BatchStats(
    keyed: DataFrame,
    eventsIn: Long,
    watchedRows: Long,
    noops: Long,
    winners: Long,
    applied: Long,
    maxOff: Option[Offset],
    affected: Set[Int],
    ddls: Seq[DdlChange]) {
  /** every decoded event is a row op or a DDL (the accept filter admits
    * nothing else): one fewer conditional sum per event in the scan */
  def nDdl: Long = eventsIn - watchedRows

  /** The merge's build side: the per-key winner offsets (None: no winner). */
  def winOff: Option[DataFrame] =
    if (winners == 0) None
    else Some(keyed.filter(col("_woff").isNotNull).select(col("_woff")))
}

private[stream] object BatchStats {
  val isRow: Column = col("op").isin(Op.rowOps: _*)

  /** The keyed stats scan over `decoded` (one watched table's decoded
    * batch) against the parent snapshot `snap`: ONE job computing, per
    * (repo, path) key, the surviving-winner offset (the merge's build
    * side) plus the row/noop/ddl tallies. Per-key partial aggregation
    * (map-side combine) bounds the shuffle at one ~80-byte row per (key,
    * input partition) regardless of skew, and every global statistic the
    * plan needs (affected buckets, counts, max offset, winner count) is a
    * sub-second re-aggregation over the cached per-key rows. Design notes:
    *  - sum/max/bit_or are DeclarativeAggregates (codegen'd hash agg);
    *    the bucket set is a bit_or bitmask, one long per 64 buckets.
    *  - DDL events have null images, so they fold into the (null, null)
    *    key group; their payloads are fetched by a stats-pruned scan only
    *    when the counter says any exist.
    *  - no Observations/CollectMetrics: inside `foreachBatch` the write
    *    action's QueryExecutionListener event is swallowed by the
    *    enclosing streaming execution, so `Observation.get` never resolves
    *    there (verified empirically; batch-mode writes do). */
  def scan(spark: SparkSession, decoded: DataFrame, snap: GraftLake.Snapshot,
      nBuckets: Int, camelize: Boolean, batchId: Long): BatchStats = {
    val bucket = GraftLake.bucketExpr(nBuckets)
    val surviving = isRow && !col("_noop")
    val nWords = (nBuckets + 63) / 64
    // offsets aggregate as their DECIMAL(38,0) encoding (Offset.encExpr):
    // max over a struct forces SortAggregate (sorts every scan partition by
    // key); max over a fixed-width decimal is a codegen'd HashAggregate.
    val offEnc = Offset.encExpr(col("offset"))
    val keyed = decoded
      .groupBy("repo", "path")
      .agg(
        max(when(surviving, offEnc)).as("_woff"),
        count(lit(1)).as("_n"),
        sum(when(isRow, 1L).otherwise(0L)).as("_rows"),
        sum(when(isRow && col("_noop"), 1L).otherwise(0L)).as("_noops"),
        // non-surviving complement of `_woff`: every row updates exactly ONE
        // decimal max (the two branches partition the group), and the batch
        // maxOff is greatest(max(_woff), max(_nsoff)) at the re-aggregation
        max(when(!surviving, offEnc)).as("_nsoff"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // "applied" lineage metric = winners that advance past the pre-merge
    // lastOffset: a re-delivered duplicate of an already-applied event
    // keeps its old offset and so correctly counts as 0 applied. One more
    // aggregate column over the cached keyed rows, no extra job.
    val appliedAgg = snap.lastOffset.map(Offset.encode) match {
      case Some(last) => count(when(col("_woff") > lit(last), true))
      case None => count(col("_woff"))
    }
    // bucket mask keys on SURVIVING rows (`_woff` non-null): a bucket whose
    // only activity is suppressed no-ops must not be rewritten
    val maskAggs = (0 until nWords).map { w =>
      coalesce(bit_or(when(col("_woff").isNotNull &&
        bucket >= w * 64 && bucket < (w + 1) * 64,
        call_function("shiftleft", lit(1L), bucket - lit(w * 64)))), lit(0L))
        .as(s"mask$w")
    }
    // job descriptions: free attribution in the Spark UI / listeners
    spark.sparkContext.setJobDescription(s"graft b$batchId: keyed stats scan")
    val planRow = keyed.agg(
      coalesce(sum(col("_n")), lit(0L)).as("n"),
      (Seq(
        coalesce(sum(col("_rows")), lit(0L)).as("rows"),
        greatest(max(col("_woff")), max(col("_nsoff"))).as("maxOff"),
        coalesce(sum(col("_noops")), lit(0L)).as("noops"),
        count(col("_woff")).as("winners"),
        appliedAgg.as("applied")
      ) ++ maskAggs): _*
    ).collect()(0)
    val eventsIn = planRow.getLong(0)
    val watchedRows = planRow.getLong(1)
    BatchStats(keyed, eventsIn, watchedRows,
      noops = planRow.getLong(3),
      winners = planRow.getLong(4),
      applied = planRow.getLong(5),
      maxOff = Option(planRow.get(2))
        .map(d => Offset.decode(d.asInstanceOf[java.math.BigDecimal])),
      affected = (0 until nWords).flatMap { w =>
        val mask = planRow.getLong(6 + w)
        (0 until 64).filter(b => (mask & (1L << b)) != 0).map(_ + w * 64)
      }.toSet,
      ddls = if (eventsIn == watchedRows) Nil else freshDdls(decoded, snap, camelize))
  }

  /** The batch's DDL payloads in stream order (rare path: op='DDL' prunes
    * via parquet row-group stats, so DDL-free batches never pay a scan
    * here). Re-delivered DDLs — offset at or below the lake's applied
    * bound — are dropped HERE, the same LWW rule rows follow: they are
    * already folded into the committed schema history, and filtering them
    * is what lets the fold treat an `add` of a renamed-away name as the
    * genuine re-add it is (a replayed pre-rename add can only arrive below
    * the bound) instead of relying on shape-idempotence. */
  private def freshDdls(decoded: DataFrame, snap: GraftLake.Snapshot,
      camelize: Boolean): Seq[DdlChange] = {
    val fresh = snap.lastOffset.map(Offset.encode) match {
      case Some(last) =>
        decoded.filter(col("op") === Op.Ddl &&
          Offset.encExpr(col("offset")) > lit(last))
      case None => decoded.filter(col("op") === Op.Ddl)
    }
    val raw = fresh
      .select(col("offset"), col("ddl"))
      .collect()
      .sortBy(r => Offset.fromRow(r.getStruct(0)))
      .map(_.getStruct(1))
      .map(d => DdlChange(d.getString(0), d.getString(1), d.getString(2), d.getString(3)))
    if (camelize) // P3: source column names land camelCased
      raw.map(d => d.copy(col = SchemaEvolution.snakeToCamel(d.col),
        // a rename's TARGET name (toType) is a column name too
        toType = if (d.kind == "rename_column")
          SchemaEvolution.snakeToCamel(d.toType) else d.toType)).toSeq
    else raw.toSeq
  }
}
