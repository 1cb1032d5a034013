package graft.table

import graft.model.DdlChange
import graft.model.Schemas.{keyCols, repoFile}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, element_at, lit}
import org.apache.spark.sql.types._

/** DDL-driven schema evolution — the Spark analog of the reference's
  * refresh-catalog-on-ALTER behavior (reference:
  * server/relay/BinlogProducer.java:205-227, server/dbInfo/DbInstanceInfo.java:80-94).
  *
  * The reference re-reads information_schema when it sees `ALTER TABLE`; we
  * fold in-band DDL events into the snapshot's schema *before* the merge
  * plan is built, so later row events parse against the new shape
  * (SURVEY.md §4.4.7). Application is idempotent — a replayed DDL (at-least-
  * once feed) is a no-op.
  *
  * '''Field identity.''' The reference's catalog refresh makes
  * ANY schema change — add, widen, drop, rename — visible to its decode
  * path; a lake format must additionally keep OLD data files readable
  * under the new schema. Columns added by DDL therefore carry a stable
  * FIELD ID in their `StructField` metadata (`graft.fieldId` — the Iceberg
  * field-id idea), and renames keep the id while recording the prior name
  * as an alias (`graft.aliases`):
  *  - '''drop_column''' is a soft mask: the column leaves the current
  *    schema; old files keep their bytes and readers simply never select
  *    them. Re-adding the same NAME mints a fresh id, so pre-drop values
  *    can never resurrect through the name.
  *  - '''rename_column''' keeps the id (old files resolve by id, legacy
  *    id-less files by the alias chain), and feed events that still carry
  *    the value under the old source name keep decoding via
  *    [[sourceNames]].
  * Ids are minted monotonically over ALL schema versions ever committed
  * (never reused — see [[nextFieldId]]). */
object SchemaEvolution {

  /** `StructField` metadata key of the stable field id. */
  val IdKey = "graft.fieldId"
  /** `StructField` metadata key of the prior-name alias chain. */
  val AliasKey = "graft.aliases"
  /** `StructField` metadata marker: this column's NAME existed before
    * (it was dropped or renamed away) and the column was then re-added —
    * so it must resolve in older file versions by field id ONLY. The
    * name-fallback path exists for legacy id-less fields (the base
    * payload), and without this marker it would match a re-added name
    * against its id-less dropped ancestor, resurrecting pre-drop values
    * through the name — exactly what the drop contract forbids. Every
    * version in which the marked column legitimately exists carries its
    * id, so disabling the fallback loses nothing. */
  val FreshKey = "graft.freshName"
  /** The merge keys can never be dropped or renamed: bucketing and the
    * whole key-partitioned MERGE identity hang off them. */
  private val protectedCols = Set("repo", "path")

  def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(IdKey)) Some(f.metadata.getLong(IdKey)) else None
  def aliasesOf(f: StructField): Seq[String] =
    if (f.metadata.contains(AliasKey)) f.metadata.getStringArray(AliasKey).toSeq
    else Nil
  def isFreshName(f: StructField): Boolean =
    f.metadata.contains(FreshKey) && f.metadata.getBoolean(FreshKey)

  private def withId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(IdKey, id).build())
  private def withAlias(f: StructField, old: String): StructField = {
    val as = (aliasesOf(f) :+ old).distinct.toArray
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putStringArray(AliasKey, as).build())
  }
  private def withFresh(f: StructField): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putBoolean(FreshKey, true).build())

  /** Smallest id never used by ANY schema version — dropped columns' ids
    * stay burned (they live on in older version JSONs), so a re-added name
    * can never collide with its dropped ancestor. */
  def nextFieldId(schemas: Iterable[StructType]): Long =
    (0L +: schemas.toSeq.flatMap(_.fields.flatMap(fieldId(_)))).max + 1

  /** Index of the field `name` denotes under rename semantics: its current
    * name, or its alias chain (a replayed pre-rename DDL must keep
    * resolving to the renamed field). */
  private def resolveName(schema: StructType, name: String): Option[Int] =
    schema.fields.indexWhere(_.name == name) match {
      case -1 =>
        schema.fields.indexWhere(f => aliasesOf(f).contains(name)) match {
          case -1 => None
          case i => Some(i)
        }
      case i => Some(i)
    }

  /** Match a CURRENT schema field to its representation in an older file
    * version: by field id when both sides carry one (renames keep the id;
    * a re-added name after a drop gets a NEW id and so correctly misses
    * the dropped ancestor), by name/alias otherwise (legacy versions that
    * predate ids). */
  def resolveIn(f: StructField, v: StructType): Option[StructField] = {
    val fid = fieldId(f)
    v.fields.find(vf => fid.isDefined && fieldId(vf) == fid).orElse {
      // a re-added name must NOT name-match its id-less dropped ancestor
      // (every version the re-added column exists in carries its id, so
      // skipping the fallback can never lose a legitimate match)
      if (isFreshName(f)) None
      else (f.name +: aliasesOf(f)).view.map(n =>
        v.fields.find(vf => vf.name == n &&
          (fid.isEmpty || fieldId(vf).isEmpty)))
        .collectFirst { case Some(vf) => vf }
    }
  }

  /** `df`, read under file version `v`, projected onto `target`: each
    * target field is its [[resolveIn]] match in `v` cast to the target
    * type, or null when it has none — added columns read null, widened
    * types cast, renames resolve by field id (legacy id-less versions by
    * the alias chain), and a re-added name misses its dropped ancestor. */
  def alignTo(df: DataFrame, v: StructType, target: StructType): DataFrame =
    df.select(target.fields.map { f =>
      resolveIn(f, v) match {
        case Some(vf) => col(vf.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)

  /** Every source name a lake column's value may arrive under in the feed
    * envelope, newest first: the current name, then rename aliases; a
    * camelizing subscription (P3) also probes the snake form of each. */
  def sourceNames(f: StructField, camelize: Boolean): Seq[String] = {
    val names = f.name +: aliasesOf(f)
    (if (camelize) names.flatMap(n => Seq(camelToSnake(n), n)) else names)
      .distinct
  }

  /** The decoded feed envelope's values for `schema`'s non-key data
    * columns. Each decodes from its [[sourceNames]]: a base-payload name
    * reads the typed after-image field, any other probes the extras map,
    * so renamed columns and pre-rename events keep decoding. A name
    * CLAIMED by a live column's own (primary) name feeds no OTHER column
    * through an alias: after a genuine re-add of a renamed-away name,
    * events carry the NEW column's values under it (the renamed column's
    * alias chain stays for resolving OLD file versions only). */
  def sourceColumns(schema: StructType, camelize: Boolean): Seq[Column] = {
    def own(f: StructField): Set[String] =
      Set(f.name) ++ (if (camelize) Set(camelToSnake(f.name)) else Set.empty)
    val claimedPrimary = dataColumns(schema).flatMap(own).toSet
    val baseSet = repoFile.fieldNames.toSet
    dataColumns(schema).filterNot(f => keyCols.contains(f.name)).map { f =>
      val names = sourceNames(f, camelize)
        .filterNot(n => !own(f)(n) && claimedPrimary(n))
      names.find(baseSet.contains) match {
        case Some(src) => col(s"after.$src").cast(f.dataType).as(f.name)
        case None =>
          val probes = names.map(n => element_at(col("extras"), n))
          (if (probes.size == 1) probes.head
           else coalesce(probes: _*)).cast(f.dataType).as(f.name)
      }
    }
  }

  /** Widenings we accept (MySQL-ish, all loss-free in Catalyst `Cast`).
    * Decimal widening is precision/scale-aware below. */
  private val widenOk: Set[(String, String)] = Set(
    ("integer", "long"), ("integer", "double"), ("long", "double"),
    ("float", "double"), ("integer", "decimal(38,0)"),
    ("integer", "string"), ("long", "string"), ("date", "timestamp"))

  private def widenAllowed(from: DataType, to: DataType): Boolean = (from, to) match {
    // decimal(p,s) → decimal(p',s') is loss-free iff the integral and
    // fractional digit budgets both grow (MySQL DECIMAL widen semantics)
    case (f: DecimalType, t: DecimalType) =>
      t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
    case (IntegerType | LongType, t: DecimalType) => t.precision - t.scale >= 19
    case _ => widenOk((from.typeName.takeWhile(_ != '('), to.typeName.takeWhile(_ != '(')))
  }

  private val DecimalRe = """decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  /** The reference coerces 15 MySQL column types into its row images
    * (server/dbInfo/TableColumnList.java:44-103,
    * base/dbInfo/TableInfo.java:88-100); this is the Spark-type image of
    * that map — every type a DDL can introduce into the lake schema. */
  def parseType(name: String): DataType = name.toLowerCase match {
    case "tinyint" | "smallint" | "int" | "integer" | "mediumint" => IntegerType
    case "bigint" | "long" => LongType
    case "float" => FloatType
    case "double" | "real" => DoubleType
    case "string" | "text" | "varchar" | "char" | "json" => StringType
    case "binary" | "varbinary" | "blob" => BinaryType
    case "boolean" | "bool" => BooleanType
    case "date" => DateType
    case "timestamp" | "datetime" => TimestampType
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case "decimal" | "numeric" => DecimalType(38, 18)
    case other => throw new IllegalArgumentException(s"unsupported DDL type '$other'")
  }

  /** Apply one DDL; idempotent. Engine columns (`_offset`, `_deleted`) stay
    * at the tail of the schema. Unit-test convenience — the ingest path
    * goes through [[fold]] so ids are minted against the FULL version
    * history, not just the current schema. */
  def apply(schema: StructType, ddl: DdlChange): StructType =
    applyWithId(schema, ddl, nextFieldId(Seq(schema)))._1

  /** Returns (evolved schema, whether `nextId` was consumed). `nameSeen`
    * answers "did this column name (or alias) ever exist in ANY prior
    * schema state?" — an add of such a name is a re-add after a drop and
    * gets the fresh-name marker (see [[FreshKey]]). The single-DDL
    * [[apply]] convenience has no history and passes a constant false. */
  private def applyWithId(schema: StructType, ddl: DdlChange,
      nextId: Long, nameSeen: String => Boolean = _ => false): (StructType, Boolean) = ddl.kind match {
    case "add_column" =>
      // the engine reserves the '_' name prefix (_offset/_deleted/_bucket
      // and friends). Without this guard an add of such a name either
      // no-ops against an existing engine column (silent data loss) or
      // lands a field the merge projection never produces — every batch
      // then dies on the same AnalysisException, a permanent poison pill
      // under the supervisor. Fail closed with the real reason instead;
      // rename already guards its target identically.
      require(ddl.col.nonEmpty && !ddl.col.startsWith("_"),
        s"illegal column name '${ddl.col}': '_'-prefixed names are " +
          "reserved for engine columns")
      if (schema.fieldNames.contains(ddl.col))
        (schema, false) // replayed DDL: the column already exists
      else {
        // a name resolving only through a rename ALIAS is NOT a replay:
        // re-delivered DDLs are dropped by offset before the fold (the
        // same rule rows follow), so an add that reaches here with a
        // renamed-away name means the source genuinely RE-ADDED it — a
        // brand-new column (the reference's catalog refresh would show
        // both the renamed column and the re-added name). It gets a fresh
        // id and, via `nameSeen`, the fresh-name marker; the renamed
        // column keeps its alias for OLD file versions, but the live name
        // now belongs to the new column (the merge projection gives a
        // live primary name precedence over any alias probe).
        val (data, engine) = schema.fields.partition(!_.name.startsWith("_"))
        val f0 = withId(StructField(ddl.col, parseType(ddl.toType)), nextId)
        val f = if (nameSeen(ddl.col)) withFresh(f0) else f0
        (StructType((data :+ f) ++ engine), true)
      }
    case "widen_type" =>
      // same engine-namespace guard as add_column: a widen of a missing
      // column materializes an add below, and a direct name hit on an
      // engine column must never retype it
      require(ddl.col.nonEmpty && !ddl.col.startsWith("_"),
        s"illegal column name '${ddl.col}': '_'-prefixed names are " +
          "reserved for engine columns")
      val to = parseType(ddl.toType)
      resolveName(schema, ddl.col) match {
        case None =>
          // the column's add_column happened before this stream's resume
          // point (e.g. a FROM_POS/GTID resume past it). The reference
          // re-reads information_schema on ALTER, i.e. after the statement
          // the column simply EXISTS at the widened type — so a widen on a
          // missing column materializes it (values arrive via extras).
          applyWithId(schema, DdlChange("add_column", ddl.col, "", ddl.toType),
            nextId, nameSeen)
        case Some(idx) =>
          val cur = schema.fields(idx).dataType
          if (cur == to) (schema, false) // replayed DDL: no-op
          else {
            require(widenAllowed(cur, to),
              s"illegal widen ${cur.sql} -> ${to.sql} on ${ddl.col}")
            (StructType(schema.fields.updated(idx,
              schema.fields(idx).copy(dataType = to))), false)
          }
      }
    case "drop_column" =>
      require(!protectedCols(ddl.col),
        s"cannot drop merge-key column '${ddl.col}'")
      resolveName(schema, ddl.col) match {
        case None => (schema, false) // replayed/unknown: no-op
        case Some(idx) =>
          require(!schema.fields(idx).name.startsWith("_"),
            s"cannot drop engine column '${ddl.col}'")
          (StructType(schema.fields.patch(idx, Nil, 1)), false)
      }
    case "rename_column" => // col = old name, toType = new name
      val (old, nw) = (ddl.col, ddl.toType)
      require(!protectedCols(old) && !protectedCols(nw),
        s"cannot rename merge-key column ('$old' -> '$nw')")
      require(nw.nonEmpty && !nw.startsWith("_"),
        s"illegal rename target '$nw'")
      // the OLD side needs the same engine-namespace guard: protectedCols
      // only covers the merge keys, so without this a DDL could rename
      // _offset or _deleted out from under every downstream col()
      // consumer. Aliases only ever attach to data columns, so the
      // direct-name check fully covers alias resolution too.
      require(!old.startsWith("_"),
        s"cannot rename engine column '$old'")
      if (schema.fieldNames.contains(nw)) {
        // only a genuinely REPLAYED rename may no-op: the existing `nw`
        // field must be the renamed column itself (old in its alias chain,
        // or a degenerate self-rename). A rename whose target collides
        // with a DIFFERENT live column must fail closed — swallowing it
        // would leave the source emitting values under `nw` that no lake
        // column ever probes (silent null-out of every subsequent value).
        val tgt = schema.fields(schema.fieldNames.indexOf(nw))
        require(old == nw || aliasesOf(tgt).contains(old),
          s"rename '$old' -> '$nw' collides with existing column '$nw'")
        (schema, false)
      }
      else resolveName(schema, old) match {
        case None => throw new IllegalArgumentException(
          s"rename of unknown column '$old'")
        case Some(idx) =>
          val f0 = schema.fields(idx)
          // legacy id-less fields (the base payload) get an id at their
          // first rename so future file versions resolve by id
          val f1 = if (fieldId(f0).isDefined) f0 else withId(f0, nextId)
          (StructType(schema.fields.updated(idx,
            withAlias(f1.copy(name = nw), f0.name))),
            fieldId(f0).isEmpty)
      }
    case other =>
      throw new IllegalArgumentException(s"unknown DDL kind '$other'")
  }

  /** Fold a batch's DDLs. `historySchemas` — every schema version JSON the
    * snapshot has ever committed — anchors id minting so a dropped
    * column's id is never reused (the ingest path passes
    * `snap.schemas.values`; parsing is paid only when `ddls` is
    * non-empty, i.e. almost never). */
  def fold(schema: StructType, ddls: Seq[DdlChange],
      historySchemas: Iterable[String] = Nil): StructType = {
    if (ddls.isEmpty) return schema
    val hist = historySchemas.toSeq.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])
    var next = nextFieldId(schema +: hist)
    // every name (and alias) that EVER existed — committed versions plus
    // this fold's own intermediate states (add → drop → re-add inside one
    // batch): adding one of these is a re-add and gets the fresh-name
    // marker so it can never resolve to its dropped ancestor by name
    var seen: Set[String] = (schema +: hist)
      .flatMap(_.fields.flatMap(f => f.name +: aliasesOf(f))).toSet
    ddls.foldLeft(schema) { (s, d) =>
      seen ++= s.fields.flatMap(f => f.name +: aliasesOf(f))
      val (s2, used) = applyWithId(s, d, next, seen)
      if (used) next += 1
      s2
    }
  }

  /** Data columns of a target schema = everything not engine-internal. */
  def dataColumns(schema: StructType): Seq[StructField] =
    schema.fields.filter(!_.name.startsWith("_")).toSeq

  // -- P3: column-name conversion (reference utils/StrNameConvert.java:24-36
  // converts snake_case DB columns to camelCase bean fields; these two are
  // exact inverses for standard snake names, so the merge projection can
  // recover the source extras key from the lake column name).

  def snakeToCamel(name: String): String = {
    val parts = name.split('_')
    (parts.head +: parts.tail.map(p =>
      if (p.isEmpty) p else p.head.toUpper +: p.tail)).mkString
  }

  def camelToSnake(name: String): String =
    name.flatMap(c => if (c.isUpper) s"_${c.toLower}" else c.toString)
}
