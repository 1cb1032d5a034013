package graft.model

/** Core data model of the CDC engine.
  *
  * Mirrors the reference's `SyncEvent` envelope
  * (reference: src/main/java/com/Rezar/dbSub/base/event/SyncEvent.java:24-36)
  * re-expressed as typed Scala case classes with Spark `Encoder`s.
  */

/** Total-order change-log position.
  *
  * The reference encodes it as the string `fileIdx_pos_rowIdx` ordered by
  * numeric segment-wise comparison
  * (reference: server/relay/BinlogProducer.java:102-103;
  * base/ServerConstants.java:111-149). As a Spark struct the natural
  * lexicographic struct ordering reproduces that comparator exactly, so
  * `max_by(x, offset)` / `ORDER BY offset` need no custom code.
  */
final case class Offset(fileIdx: Long, pos: Long, rowIdx: Long) {
  /** Reference-compatible string form (BinlogProducer.java:102-103). */
  def render: String = s"${fileIdx}_${pos}_$rowIdx"
}

object Offset {
  /** Segment-wise numeric order — the law tested against the reference
    * comparator semantics (base/ServerConstants.java:111-149). */
  implicit val ordering: Ordering[Offset] =
    Ordering.by((o: Offset) => (o.fileIdx, o.pos, o.rowIdx))

  /** Parse the reference's `(\d+_?){3}` seqId form
    * (utils/BinlogUtils.java:21-23). */
  def parse(s: String): Offset = {
    val parts = s.split('_')
    require(parts.length == 3, s"bad offset '$s' (expected fileIdx_pos_rowIdx)")
    Offset(parts(0).toLong, parts(1).toLong, parts(2).toLong)
  }

  val Min: Offset = Offset(Long.MinValue, Long.MinValue, Long.MinValue)

  /** Literal offset struct column, comparable against an offset column. */
  def literal(o: Offset): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, struct}
    struct(lit(o.fileIdx).as("fileIdx"), lit(o.pos).as("pos"),
      lit(o.rowIdx).as("rowIdx"))
  }

  /** Driver-side read of a collected offset struct. */
  def fromRow(r: org.apache.spark.sql.Row): Offset =
    Offset(r.getLong(0), r.getLong(1), r.getLong(2))

  // ---- single-value encoding (aggregation-friendly total order) ----------
  // `max(struct)` forces SortAggregate (struct agg buffers are not
  // UnsafeRow-mutable), which sorts every scan partition by key. Packing
  // the triple into one DECIMAL(38,0) — enc = ((fileIdx << 42) + pos) << 42
  // + rowIdx conceptually — keeps the exact segment-wise order of the
  // reference comparator (ServerConstants.java:111-149) while letting the
  // winner aggregation run as a codegen'd HashAggregate. 42 bits per
  // segment is far beyond any real binlog (file suffix < 1e6, event pos
  // < 2^32 for a 4 GiB binlog file, rowIdx = rows within one event);
  // 126 bits total fits DECIMAL(38,0) with margin (2^126 ≈ 8.5e37 < 1e38).
  val SegBits = 42
  val SegMax: Long = (1L << SegBits) - 1

  private val Seg = java.math.BigInteger.TWO.pow(SegBits)

  /** Column expr: offset struct → DECIMAL(38,0), order-preserving.
    *
    * Guarded: a segment outside [0, 2^42) would produce COLLIDING encodings
    * (e.g. (0, 2^42, 0) == (1, 0, 0)) and silently pick wrong LWW winners —
    * the reference's seqId format places no such bound, so out-of-range
    * input must be a hard error, not a wrong answer (round-2 advice). The
    * three comparisons are codegen'd and negligible next to the decimal
    * arithmetic; a null offset passes through as null (no error). */
  def encExpr(o: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat_ws, lit, raise_error, when}
    val segD = new java.math.BigDecimal(Seg)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val (f, p, r) =
      (o.getField("fileIdx"), o.getField("pos"), o.getField("rowIdx"))
    val outOfRange =
      f < 0 || f > SegMax || p < 0 || p > SegMax || r < 0 || r > SegMax
    val enc = (f.cast(dec) * lit(segD) + p.cast(dec)) * lit(segD) + r.cast(dec)
    when(outOfRange, raise_error(concat_ws("",
      lit(s"offset segment out of [0, 2^$SegBits) encodable range: "),
      concat_ws("_", f, p, r))).cast(dec))
      .otherwise(enc)
  }

  /** Driver-side twin of [[encExpr]] (same guard). */
  def encode(o: Offset): java.math.BigDecimal = {
    def seg(name: String, v: Long): java.math.BigInteger = {
      require(v >= 0 && v <= SegMax,
        s"offset $name=$v outside [0, 2^$SegBits) encodable range")
      java.math.BigInteger.valueOf(v)
    }
    new java.math.BigDecimal(
      seg("fileIdx", o.fileIdx).multiply(Seg).add(seg("pos", o.pos))
        .multiply(Seg).add(seg("rowIdx", o.rowIdx)))
  }

  /** Driver-side inverse of [[encExpr]]. */
  def decode(enc: java.math.BigDecimal): Offset = {
    val v = enc.toBigIntegerExact
    val Array(hi, rowIdx) = v.divideAndRemainder(Seg)
    val Array(fileIdx, pos) = hi.divideAndRemainder(Seg)
    Offset(fileIdx.longValueExact, pos.longValueExact, rowIdx.longValueExact)
  }
}

/** Row image of the source-code table — the graft payload shape
  * (BASELINE.json input_hint). All-string base schema; evolved columns
  * ride in the envelope's `extras` map (see [[ChangeEvent]]). */
final case class RepoFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** DDL payload for schema-evolution events. The reference detects these by
  * regex over binlog QUERY events and refreshes its catalog
  * (server/relay/BinlogProducer.java:205-227); we carry them in-band.
  * Kinds: `add_column` / `widen_type` (toType = Spark DDL type name),
  * `drop_column` (col only), `rename_column` (col = old name,
  * toType = NEW name). */
final case class DdlChange(
    kind: String,     // add_column | widen_type | drop_column | rename_column
    col: String,
    fromType: String, // Spark DDL type name ("" for add_column)
    toType: String)

object Op {
  /** Reference ChangeType codes: 0=INSERT 1=UPDATE 2=DELETE
    * (base/enums/ChangeType.java:21-27). */
  val Insert = "INSERT"
  val Update = "UPDATE"
  val Delete = "DELETE"
  val Ddl    = "DDL"
  val rowOps: Seq[String] = Seq(Insert, Update, Delete)
}

/** The change-event envelope (reference SyncEvent.java:24-36).
  *
  * Invariants preserved from the reference:
  *  - INSERT carries only an after-image (BinlogProducer.java:129)
  *  - DELETE carries only a before-image (BinlogProducer.java:97-98)
  *  - UPDATE carries both
  *  - `extras` carries post-DDL evolved-column values keyed by column name
  *    (the Spark analog of positional decode against a refreshed catalog,
  *    base/dbInfo/TableInfo.java:41-51).
  */
final case class ChangeEvent(
    offset: Offset,
    op: String,
    ts: Long,
    db: String,
    table: String,
    before: Option[RepoFile],
    after: Option[RepoFile],
    extras: Option[Map[String, String]],
    ddl: Option[DdlChange])

object Schemas {
  import org.apache.spark.sql.types._

  /** Columns that identify a key — the MERGE key of the north rule. */
  val keyCols: Seq[String] = Seq("repo", "path")

  val repoFile: StructType = StructType(Seq(
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lang", StringType),
    StructField("content", StringType)))

  val offset: StructType = StructType(Seq(
    StructField("fileIdx", LongType),
    StructField("pos", LongType),
    StructField("rowIdx", LongType)))

  val ddl: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("col", StringType),
    StructField("fromType", StringType),
    StructField("toType", StringType)))

  /** Schema of the binlog-shaped parquet change feed (FIXTURES.md §2). */
  val changeEvent: StructType = StructType(Seq(
    StructField("offset", offset),
    StructField("op", StringType),
    StructField("ts", LongType),
    StructField("db", StringType),
    StructField("table", StringType),
    StructField("before", repoFile),
    StructField("after", repoFile),
    StructField("extras", MapType(StringType, StringType)),
    StructField("ddl", ddl)))

  /** Base schema (version 0) of the lake target table. Engine columns:
    * `_offset` is the LWW guard, `_deleted` the tombstone flag (kept one
    * expiry generation so a late lower-offset replay cannot resurrect a
    * deleted row — SURVEY.md §7.5). */
  val targetBase: StructType = StructType(Seq(
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lang", StringType),
    StructField("content", StringType),
    StructField("_offset", offset),
    StructField("_deleted", BooleanType)))
}
