package graft.feed

import graft.model._
import graft.table.NioLocalFileSystem
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic synthetic binlog-shaped change feed (FIXTURES.md §2/§3).
  *
  * Shape mirrors what the reference's `BinlogProducer` emits after
  * row-event explode (reference: server/relay/BinlogProducer.java:90-139):
  * one row-image pair per event, offsets `(fileIdx, pos, rowIdx)` assigned
  * exactly like seqId `fileIdx_pos_rowIdx` (BinlogProducer.java:102-103).
  *
  * Everything is a pure function of (seed, global index), so the in-memory
  * oracle (tests) can recompute any image independently. Generation is
  * distributed: `spark.range` → per-key versioning via a window → typed map.
  */
object BinlogFeedGen {

  final case class FeedConfig(
      nEvents: Long,
      nKeys: Int,
      seed: Long = 42L,
      eventsPerFile: Int = 1000,
      /** fraction of events routed to `nHotKeys` hot keys (zipf-ish skew) */
      skew: Double = 0.0,
      nHotKeys: Int = 4,
      /** fraction of UPDATEs that are no-ops (only `commit` changes) —
        * exercises suppression F3 (reference WatchTableFilter.java:24-45) */
      noopFrac: Double = 0.05,
      /** fraction of events on an unwatched decoy table — exercises F1
        * (reference BinlogProducer.java:268-271) */
      decoyFrac: Double = 0.02,
      /** fraction of each binlog file's tail re-emitted as duplicate files
        * — at-least-once upstream (reference ack-replay,
        * client/akkaSystem/SingleTableBinlogClientActor.java:136-142) */
      dupTailFrac: Double = 0.0,
      /** global indices at which DDL events appear (must be < nEvents) */
      ddlAt: Map[Long, DdlChange] = Map.empty,
      /** approx content size in chars (plus jitter) */
      contentChars: Int = 200,
      /** parquet row-group target per binlog file (MB). A binlog file is
        * written as ONE parquet file; with the writer's default 128 MB
        * block size that is a single row group, and a row group is the
        * finest unit any reader can parallelize over — so every
        * rate-limited microbatch (maxFilesPerTrigger files) scanned at
        * exactly maxFilesPerTrigger-way parallelism no matter how many
        * cores the job had. Real binlog segments are GB-scale and land
        * with many row groups; small-MB groups restore that property at
        * fixture scale (readers split them when
        * spark.sql.files.maxPartitionBytes is ≤ this). */
      rowGroupMb: Int = 2)

  /** Two mid-feed DDLs per FIXTURES.md: ADD COLUMN size INT at 40% of the
    * feed, WIDEN size INT→BIGINT at 70%. */
  def evolutionDdls(nEvents: Long): Map[Long, DdlChange] = Map(
    (nEvents * 2 / 5) -> DdlChange("add_column", "size", "", "int"),
    (nEvents * 7 / 10) -> DdlChange("widen_type", "size", "int", "bigint"))

  val WatchedDb = "code"
  val WatchedTable = "repo_files"
  val DecoyTable = "decoy_tbl"
  private val langs = Array("scala", "java", "py", "md")
  private val vocab: Array[String] =
    ("def val var class object trait import package match case if else " +
      "for while return new extends with override lazy final sealed try " +
      "catch map filter fold reduce apply spark dataset column row schema " +
      "merge offset commit snapshot bucket shuffle partition stream batch " +
      "key value index scan join group agg sort window state check point")
      .split(' ')

  // ---- deterministic primitives (splitmix64) -------------------------------

  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def mix(a: Long, b: Long): Long = mix64(a * 0x632BE59BD9B4E019L + mix64(b))
  /** uniform double in [0,1) */
  def u01(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  // ---- pure per-event derivations (shared with the test oracle) ------------

  def keyId(cfg: FeedConfig, i: Long): Long = {
    val h = mix(cfg.seed ^ 0x5eedL, i)
    if (u01(mix64(h)) < cfg.skew) Math.floorMod(h, cfg.nHotKeys.toLong)
    else Math.floorMod(h, cfg.nKeys.toLong)
  }
  def repoOf(kid: Long): String = f"repo-${kid / 64}%04d"
  def pathOf(kid: Long): String = {
    val p = kid % 64
    f"src/main/pkg${p / 8}%d/File$p%02d.scala"
  }
  def langOf(kid: Long): String = langs(Math.floorMod(kid, langs.length.toLong).toInt)
  def commitOf(cfg: FeedConfig, kid: Long, ver: Long): String =
    f"c${mix(cfg.seed ^ kid * 1315423911L, ver) & 0xFFFFFFFFL}%08x"

  /** raw no-op draw; isNoop(v) = raw(v) && !raw(v-1) forbids chains so the
    * effective content version is always v-1 (well-defined). */
  private def noopRaw(cfg: FeedConfig, kid: Long, ver: Long): Boolean =
    u01(mix(cfg.seed ^ 0x4e00bL ^ kid, ver)) < 2 * cfg.noopFrac
  def isNoop(cfg: FeedConfig, kid: Long, ver: Long): Boolean =
    ver > 1 && noopRaw(cfg, kid, ver) && !noopRaw(cfg, kid, ver - 1)

  def contentOf(cfg: FeedConfig, kid: Long, ver: Long): String = {
    val eff = if (isNoop(cfg, kid, ver)) ver - 1 else ver
    val h0 = mix(cfg.seed ^ 0xC0DEL ^ kid, eff)
    val target = cfg.contentChars / 2 + (mix64(h0) >>> 40) % cfg.contentChars
    val sb = new StringBuilder(s"// ${repoOf(kid)}/${pathOf(kid)} v$eff\n")
    var h = h0
    var line = 0
    while (sb.length < target) {
      h = mix64(h)
      sb.append(vocab(Math.floorMod(h, vocab.length.toLong).toInt)).append(' ')
      line += 1
      if (line % 8 == 0) sb.append('\n')
    }
    sb.result()
  }

  def opOf(cfg: FeedConfig, kid: Long, ver: Long): String =
    if (ver == 1L) Op.Insert
    else {
      val u = u01(mix(cfg.seed ^ 0x09affL ^ kid, ver))
      if (u < 0.10) Op.Delete
      else if (u < 0.20) Op.Insert // re-insert after presumed delete
      else Op.Update
    }

  def offsetOf(cfg: FeedConfig, i: Long): Offset = {
    val fileIdx = i / cfg.eventsPerFile + 1
    val e = i % cfg.eventsPerFile
    Offset(fileIdx, 4 + (e / 3) * 173, e % 3)
  }

  def isDecoy(cfg: FeedConfig, i: Long): Boolean =
    u01(mix(cfg.seed ^ 0xDEC0L, i)) < cfg.decoyFrac

  /** Post-DDL evolved-column values: every add_column DDL before index `i`
    * contributes one extras entry, keyed by the SOURCE column name, with a
    * deterministic string value matching the declared type (the engine
    * casts at decode — the reference's 15-type coercion map,
    * TableColumnList.java:44-103). A matching widen_type DDL before `i`
    * switches the value into the widened range. */
  def extrasOf(cfg: FeedConfig, kid: Long, ver: Long, i: Long): Option[Map[String, String]] = {
    val m = cfg.ddlAt.toSeq.sortBy(_._1).collect {
      case (addAt, d) if d.kind == "add_column" && i > addAt =>
        val widened = cfg.ddlAt.exists { case (wAt, wd) =>
          wd.kind == "widen_type" && wd.col == d.col && i > wAt }
        val base = Math.abs(mix(cfg.seed ^ 0x512eL ^ d.col.##.toLong ^ kid, ver)) % 100000L
        val v = d.toType.toLowerCase match {
          case _ if widened => (3000000000L + base).toString
          case "int" | "integer" | "bigint" | "long" => base.toString
          case t if t.startsWith("decimal") => f"${base / 1000}.${base % 1000}%03d"
          case "timestamp" | "datetime" =>
            f"2024-01-${base % 28 + 1}%02d ${base % 24}%02d:${base % 60}%02d:${base / 7 % 60}%02d"
          case "date" => f"2024-${base % 12 + 1}%02d-${base % 28 + 1}%02d"
          case "boolean" | "bool" => (base % 2 == 0).toString
          case "double" | "float" => f"${base / 100}.${base % 100}%02d"
          case _ => s"v$base"
        }
        d.col -> v
    }.toMap
    if (m.isEmpty) None else Some(m)
  }

  def image(cfg: FeedConfig, kid: Long, ver: Long): RepoFile =
    RepoFile(repoOf(kid), pathOf(kid), commitOf(cfg, kid, ver), langOf(kid),
      contentOf(cfg, kid, ver))

  /** Build the full event for (global index, key, per-key version). INSERT
    * carries only after, DELETE only before, UPDATE both — the reference's
    * image rules (BinlogProducer.java:97-98, 129). */
  def buildEvent(cfg: FeedConfig, i: Long, kid: Long, ver: Long): ChangeEvent = {
    cfg.ddlAt.get(i) match {
      case Some(d) =>
        ChangeEvent(offsetOf(cfg, i), Op.Ddl, ts(cfg, i), WatchedDb, WatchedTable,
          None, None, None, Some(d))
      case None =>
        val decoy = isDecoy(cfg, i)
        val table = if (decoy) DecoyTable else WatchedTable
        val op = opOf(cfg, kid, ver)
        val before = if (ver > 1 && op != Op.Insert) Some(image(cfg, kid, ver - 1)) else None
        val after = if (op != Op.Delete) Some(image(cfg, kid, ver)) else None
        val extras = if (decoy || op == Op.Delete) None else extrasOf(cfg, kid, ver, i)
        ChangeEvent(offsetOf(cfg, i), op, ts(cfg, i), WatchedDb, table,
          before, after, extras, None)
    }
  }

  def ts(cfg: FeedConfig, i: Long): Long = 1700000000000L + i * 13L

  // ---- distributed generation ----------------------------------------------

  /** Distributed generation: assign keys per index, compute the per-key
    * version with a window (rank of i within key — the only stateful part),
    * then map to full events. Decoy-table keys live in a shifted keyspace so
    * they don't perturb watched-table versions. */
  def generate(spark: SparkSession, cfg: FeedConfig): Dataset[ChangeEvent] = {
    import spark.implicits._
    val raw = spark.range(cfg.nEvents).as[Long].map { i =>
      val kid =
        if (cfg.ddlAt.contains(i)) -1L - i // DDL rows: unique key, ver 1
        else if (isDecoy(cfg, i)) keyId(cfg, i) + cfg.nKeys
        else keyId(cfg, i)
      RawIdx(i, kid)
    }
    val w = Window.partitionBy($"kid").orderBy($"i")
    raw.withColumn("ver", row_number().over(w).cast("long"))
      .select($"i".as("_1"), $"kid".as("_2"), $"ver".as("_3"))
      .as[(Long, Long, Long)] // i, kid, ver
      .map { case (i, kid, ver) => buildEvent(cfg, i, kid, ver) }
  }

  /** Write the feed as parquet partitioned by binlog file (FIXTURES.md §2),
    * one parquet file per `_file` partition, plus optional duplicate
    * replay files for the at-least-once variant. */
  def writeFeed(spark: SparkSession, cfg: FeedConfig, dir: String): Unit = {
    import spark.implicits._
    // row-group size rides the Hadoop conf (a DataFrameWriter option is
    // NOT forwarded to parquet-mr); restored afterwards so the fixture
    // writer never changes the session's lake-write layout
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = Option(hc.get("parquet.block.size"))
    hc.setLong("parquet.block.size", cfg.rowGroupMb * 1024L * 1024)
    // written as a local lake is: no chmod forked per file, no .crc sidecar
    val local = NioLocalFileSystem.writeOptions(NioLocalFileSystem.forLake(
      new org.apache.hadoop.fs.Path(dir).getFileSystem(hc), hc))
    try {
      val ev = generate(spark, cfg)
        .withColumn("_file", format_string("f%05d", $"offset.fileIdx"))
      ev.repartition($"_file")
        .sortWithinPartitions($"offset.pos", $"offset.rowIdx")
        .write.options(local).mode("overwrite").partitionBy("_file").parquet(dir)
      if (cfg.dupTailFrac > 0) {
        // re-emit the tail of each binlog file under a replay partition name:
        // same offsets delivered twice, arriving later in file order.
        val cut = (cfg.eventsPerFile * (1 - cfg.dupTailFrac)).toLong
        val dup = generate(spark, cfg)
          .filter(e => (e.offset.pos - 4) / 173 * 3 + e.offset.rowIdx >= cut)
          .withColumn("_file", format_string("f%05d-replay", $"offset.fileIdx"))
        dup.repartition($"_file")
          .write.options(local).mode("append").partitionBy("_file").parquet(dir)
      }
    } finally prevBlock match {
      case Some(v) => hc.set("parquet.block.size", v)
      case None => hc.unset("parquet.block.size")
    }
    stampBinlogOrder(dir)
  }

  /** Stamp file modification times in binlog order: Spark's file stream
    * source orders by modTime, and a one-shot-written feed gets whatever
    * the writer's task scheduling produced — effectively arbitrary. A real
    * binlog tail delivers files in rotation order, so the fixture must
    * too (replay re-deliveries arrive just after their original file —
    * the reference's ack-replay timing). Deterministic ordering also
    * makes streaming `applied` lineage counts exact. */
  def stampBinlogOrder(dir: String): Unit = {
    val t0 = 1700000000000L
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).foreach { d =>
      val name = d.getName
      if (name.startsWith("_file=f")) {
        val digits = name.stripPrefix("_file=f").takeWhile(_.isDigit)
        if (digits.nonEmpty) {
          val t = t0 + digits.toLong * 2000L +
            (if (name.endsWith("-replay")) 1000L else 0L)
          Option(d.listFiles()).getOrElse(Array.empty)
            .foreach(_.setLastModified(t))
          d.setLastModified(t)
          ()
        }
      }
    }
  }
}

/** Index→key assignment row (top-level so Catalyst codegen can access its
  * accessors; nested private classes force interpreted fallback). */
final case class RawIdx(i: Long, kid: Long)
