package graft.cli

import graft.table.{GraftLake, SchemaEvolution}
import org.apache.spark.sql.types.{DataType, StructType}

/** The `describe` CLI verb's view computation, separated from printing so
  * DescribeSpec can pin it over a debt-carrying fixture: snapshot header,
  * schema-version history (alias chains and soft-masked drops rendered),
  * base/delta file stats, and the top compaction-debt ranges — the
  * operator's view of fold pressure (the reference surfaces its per-table
  * store stats the same way: count-based trim logs,
  * BinlogDataStorageWithLevelDB.java:291-352). */
object Describe {

  /** Per-unit debt in the planner's OWN model and order
    * ([[graft.merge.MergeApply.debts]]): fold-tier clusters and split-tier
    * wide groups, worst delta-rows first — exactly the units and ordering
    * the next commits' budget walk takes, not a re-derivation that could
    * drift from it. `foldBudget` defaults to TableSpec.maxCompactBuckets's
    * default; pass the job's value when it differs. */
  def debtRanges(snap: GraftLake.Snapshot,
      foldBudget: Int = 16): Seq[graft.merge.MergeApply.Debt] =
    graft.merge.MergeApply.debts(snap.files, foldBudget)

  /** Schema-version history lines, oldest first: engine columns hidden,
    * rename alias chains as `name (was old1,old2)`, dropped columns absent
    * from the version that masked them. */
  def schemaLines(snap: GraftLake.Snapshot): Seq[String] =
    snap.schemas.toSeq.sortBy(_._1.toInt).map { case (v, json) =>
      val st = DataType.fromJson(json).asInstanceOf[StructType]
      val cols = st.fields.filter(!_.name.startsWith("_")).map { f =>
        val als = SchemaEvolution.aliasesOf(f)
        f.name + ":" + f.dataType.simpleString +
          (if (als.nonEmpty) als.mkString(" (was ", ",", ")") else "")
      }
      val cur = if (v.toInt == snap.schemaVersion) " (current)" else ""
      s"schema v$v$cur: ${cols.mkString(", ")}"
    }

  def lines(lake: GraftLake, snap: GraftLake.Snapshot,
      now: Long = System.currentTimeMillis()): Seq[String] = {
    val (deltas, bases) = snap.files.partition(_.delta)
    val header = Seq(
      s"lake=${lake.root} snapshot=${snap.id} batchId=${snap.batchId} " +
        s"lineage=${if (snap.lineage.isEmpty) "-" else snap.lineage} " +
        s"nBuckets=${snap.nBuckets} " +
        s"lastOffset=${snap.lastOffset.map(_.render).getOrElse("-")}")
    val files = Seq(
      s"files=${snap.files.size} (bases=${bases.size} " +
        s"rows=${bases.map(_.rows).sum}, deltas=${deltas.size} " +
        s"rows=${deltas.map(_.rows).sum})")
    val debt = debtRanges(snap).take(10).map { r =>
      f"debt range [${r.lo}%d,${r.hi}%d]${if (r.wide) " (split tier)" else ""}: " +
        f"${r.files}%d delta files, " +
        f"${r.deltaRows}%d delta rows over ${r.baseRows}%d base rows " +
        f"(ratio ${r.ratio}%.2f)"
    }
    header ++ schemaLines(snap) ++ files ++ debt ++
      clientLines(lake, now).map("client " + _)
  }

  /** `<id>  last heartbeat: <age>` per registered client, by id. */
  def clientLines(lake: GraftLake, now: Long = System.currentTimeMillis()): Seq[String] = {
    val beats = lake.subscribers.clientHeartbeats()
    lake.subscribers.registeredClients().toSeq.sorted.map { id =>
      val age = beats.get(id).map(t => f"${(now - t) / 1000.0}%.1fs ago")
        .getOrElse("never")
      s"$id  last heartbeat: $age"
    }
  }
}
