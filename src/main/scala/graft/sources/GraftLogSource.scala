package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the `.graftlog` shard format — the
  * last custom-extension tier (after codegen Expressions, typed
  * aggregates, an optimizer Rule, and a custom SparkPlan): a
  * from-scratch batch source that does BOTH V2 optimizations a scan
  * can offer the engine:
  *
  *  - **file pruning from pushed filters**: every shard carries a
  *    `.meta` sidecar with its event_id min/max (written at ingest —
  *    the q136 zone-map idea moved INTO the connector). Pushed
  *    event_id predicates prune whole shards in `planInputPartitions`,
  *    so a selective probe opens a handful of files out of thousands —
  *    the same skipping a 100 TB lakehouse table gets from its
  *    manifest, expressed at the DSv2 seam. Pruned-at-planning is
  *    observable (FilesOpened counter) and spec-asserted.
  *  - **column pruning**: `pruneColumns` narrows the reader to the
  *    requested fields; the line parser materializes only those (a
  *    projection over a 5-column format parses 1 column when 1 is
  *    asked for).
  *  - **aggregate pushdown**: a global COUNT(*)/MIN/MAX(event_id) is
  *    served from the sidecars alone — complete pushdown, zero
  *    shards opened (parquet's footer-stats metadata-only query at
  *    the DSv2 seam). Refused whenever a filter survives or any
  *    sidecar is missing, so it can never change a result.
  *  - **reported statistics**: post-pruning bytes/rows from the
  *    sidecars, which is what lets Catalyst broadcast a selectively
  *    filtered graftlog side instead of pricing the relation at the
  *    conf default and planning a shuffle.
  *  - **runtime filtering**: the scan declares event_id as a runtime
  *    filter attribute; when a join's build side materializes the
  *    probe-id set under AQE, unreachable shards are dropped at
  *    executed-stage planning — dynamic partition pruning over the
  *    same sidecar ranges.
  *  - **point reads on the driver**: an exact one-key lookup
  *    (`event_id = k`) whose planned shards fit
  *    `spark.sql.autoBroadcastJoinThreshold` builds a DSv2 LocalScan
  *    over the same partitions and readers, so Spark plans a
  *    LocalTableScan and the lookup runs no job at all; a threshold
  *    of -1 keeps every read on the BatchScan.
  *  - **limit / top-n pushdown**: LIMIT n opens only shards covering
  *    n rows (sidecar counts); ORDER BY event_id [DESC] LIMIT n opens
  *    only the head (tail) shards when the sidecar ranges are
  *    disjoint — both partial pushdowns, so Spark's own limit/top-k
  *    above the scan keeps semantics and selection stays pure I/O.
  *  - **reported ordering**: partitions read event_id-ascending (the
  *    write path sorts shards), reported via SupportsReportOrdering so
  *    redundant sorts above the scan are removed.
  *
  * Format: UTF-8 lines `event_id|ts_us|user_id|event_type|value`,
  * one shard per file, one InputPartition per shard (splittability
  * would follow parquet's row-group model; shards are written
  * bounded instead — the [[GraftLog.write]] helper caps rows per
  * shard). A plain batch read answers its event_id comparisons
  * exactly (the readers drop out-of-range lines, so Spark plans no
  * Filter for them); every other filter, and every filter of a
  * row-level rewrite or change-feed scan, is re-applied by Spark
  * above the scan, so for those pruning is purely an I/O
  * optimization.
  */
class GraftLogSource extends TableProvider {
  private def bucketed(path: String, opts: util.Map[String, String]): Boolean =
    opts.containsKey("bucketBy") || GraftLog.isBucketed(path)

  private def changeFeed(opts: util.Map[String, String]): Boolean =
    Option(new CaseInsensitiveStringMap(opts).get("readChangeFeed"))
      .exists(_.toBoolean)

  /** A path-level read with `.option("version", tok)` /
    * `.option("timestampAsOf", ms)` pins the TABLE too, so the
    * reported schema is the snapshot's own (renames/drops/widenings
    * resolve per generation — the same contract as the catalog's
    * VERSION AS OF route). */
  private def pinOf(path: String,
      opts: CaseInsensitiveStringMap): Option[String] =
    Option(opts.get("version"))
      .orElse(Option(opts.get("timestampAsOf"))
        .map(ts => GraftLog.timestampAsOf(path, ts.toLong)))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (bucketed(options.get("path"), options)) {
      require(!changeFeed(options),
        "readChangeFeed is not supported on bucketed graftlog tables " +
          "(their layout never rewrites, so the feed is the plain " +
          "sinceVersion slice)")
      GraftLog.bucketedSchema
    } else {
      val path = options.get("path")
      val base = StructType(GraftLog.schema.fields ++
        GraftLog.extColsAt(path, pinOf(path, options)).map(_.field))
      if (changeFeed(options))
        StructType(base.fields :+ GraftLog.ChangeTypeField)
      else base
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    new GraftLogTable(path, bucketed(path, properties),
      pinOf(path, new CaseInsensitiveStringMap(properties)),
      changeFeed = changeFeed(properties))
  }

  override def supportsExternalMetadata(): Boolean = false
}

/** A structural rewrite (compact / OPTIMIZE / cluster / DELETE /
  * CoW or delta MERGE commit) validated its read snapshot at publish
  * and found the table's structural generation moved underneath it —
  * the optimistic-concurrency loss signal. Driver-side maintenance
  * ops catch it and retry against the fresh snapshot
  * ([[GraftLog.retryOnConflict]]); V2 write jobs surface it loudly
  * (their rows were computed against the stale snapshot and cannot be
  * recomputed at commit). */
class GraftLogConcurrentWriteException(msg: String)
    extends IllegalStateException(msg)

object GraftLog {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Schema of a BUCKETED graftlog table: the base columns plus the
    * bucket column `ub = floorMod(user_id, buckets)`. ub is layout
    * metadata promoted to a first-class column (the Hive-bucketing
    * contract made explicit): it is constant per shard, so it is
    * stored once in the sidecar — never per line — and materialized
    * by the reader. Joining two same-`buckets` tables on
    * `(ub, user_id)` is semantically identical to joining on
    * `user_id` (ub is a pure function of user_id) and is what lets
    * the scan's reported KeyGroupedPartitioning eliminate the join
    * shuffle entirely (storage-partitioned join). */
  val bucketedSchema: StructType =
    StructType(schema.fields :+ StructField("ub", LongType, nullable = false))

  /** Name of the table-level schema-extension file: one line per
    * ADDED column (`name|type`, type ∈ long/double/string), appended
    * by ALTER TABLE ADD COLUMN. Old shards (written before the ALTER)
    * simply have shorter lines — the reader null-fills missing
    * trailing fields, so evolution needs NO data rewrite (parquet's
    * mergeSchema story at the custom-format seam, q185's lesson).
    * Added columns are appended to the LINE, never inserted, so the
    * five base positions every sidecar/pruning tier depends on are
    * immutable. */
  private[sources] val ExtSchemaFile = "_schema.ext"

  /** The per-line NULL sentinel for evolved columns (a written null
    * must be distinguishable from an empty string). */
  private[sources] val NullToken = "\\N"

  /** Default per-task in-heap row cap of the delta-merge writer
    * before it spills sorted runs (~50 MB of rendered lines at the
    * format's typical width — bounded however insert-heavy the
    * merge; `spark.graft.merge.delta.spillRowsPerTask` overrides). */
  private[sources] val DeltaSpillRowsDefault = 500000

  /** One PHYSICAL slot of the extension schema file, in file order.
    * `dropped = true` is a TOMBSTONE: the column is gone from the
    * logical schema but its slot stays, so every later column keeps
    * its line position — DROP COLUMN is a projection mask, zero data
    * rewrite. */
  private[sources] case class ExtEntry(field: StructField,
      default: Option[String], dropped: Boolean)

  /** A LIVE evolved column with its PHYSICAL line position (5 +
    * slot index — tombstoned slots count). Everything that touches
    * line fields resolves positions through this, never through a
    * live-sequence index. */
  case class ExtCol(field: StructField, default: Option[String],
      pos: Int)

  private def parseExtType(where: String, s: String): DataType =
    s match {
      case "long" => LongType
      case "double" => DoubleType
      case "string" => StringType
      case "date" => DateType
      case "timestamp" => TimestampType
      case "timestamp_ntz" => TimestampNTZType
      case "boolean" => BooleanType
      case other => throw new IllegalStateException(
        s"corrupt extension schema in $where: unknown type $other")
    }

  private def renderExtType(dt: DataType): String = dt match {
    case LongType => "long"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampType => "timestamp"
    case TimestampNTZType => "timestamp_ntz"
    case BooleanType => "boolean"
    case _ => "string"
  }

  /** Parse one extension-schema file. Line formats (all accepted, so
    * old tables need no migration):
    *  - `name|type` — live, no default (pre-default tables)
    *  - `name|type|default` — live with an exists default
    *  - `name|type|defaultTok|flags` — the full form RENAME/DROP/
    *    widen write: `defaultTok` is the default or [[NullToken]]
    *    for none (so an empty-string default stays representable),
    *    `flags` is "" (live) or "dropped" (tombstone). */
  private[sources] def extEntriesOf(f: java.nio.file.Path,
      where: String): Seq[ExtEntry] = {
    if (!Files.exists(f)) return Nil
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        // limit -1 keeps trailing empties: an empty-string DEFAULT
        // renders as `name|type|` and must read back as 3 parts
        val parts = line.split("\\|", -1)
        require(parts.length >= 2 && parts.length <= 4,
          s"corrupt extension schema in $where: $line")
        val dt = parseExtType(where, parts(1))
        val default = parts.length match {
          case 2 => None
          case 3 => Some(parts(2))
          case _ => if (parts(2) == NullToken) None else Some(parts(2))
        }
        ExtEntry(StructField(parts(0), dt, nullable = true), default,
          dropped = parts.length == 4 && parts(3) == "dropped")
      }
  }

  /** All physical slots of the CURRENT extension schema (tombstones
    * included), in file order. */
  private[sources] def extEntries(path: String): Seq[ExtEntry] =
    extEntriesOf(Paths.get(path, ExtSchemaFile), path)

  /** Atomic rewrite of the extension schema file, full 4-field form. */
  private def writeExtFile(path: String, entries: Seq[ExtEntry]): Unit = {
    val body = entries.map { e =>
      s"${e.field.name}|${renderExtType(e.field.dataType)}|" +
        s"${e.default.getOrElse(NullToken)}|" +
        (if (e.dropped) "dropped" else "")
    }.mkString("", "\n", "\n")
    val tmp = Paths.get(path, s".$ExtSchemaFile.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path, ExtSchemaFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** LIVE evolved columns of a table with their physical positions,
    * in ALTER order (Delta's "exists default" semantics: a row
    * written BEFORE the ALTER reads the default — its line simply
    * lacks the trailing field — while an explicitly-written NULL
    * stays NULL via [[NullToken]]). */
  def extCols(path: String): Seq[ExtCol] =
    extEntries(path).zipWithIndex.collect {
      case (e, i) if !e.dropped => ExtCol(e.field, e.default, 5 + i)
    }

  /** The extension schema AS OF a snapshot: schema DDL archives the
    * pre-change file under `_schema_history/g<gen>.ext` ("valid
    * through generation gen") and bumps the structural generation,
    * so a version/timestamp-travel read resolves the schema its
    * snapshot was written under — renamed columns reappear under
    * their old names, dropped columns reappear, widened columns read
    * in their old type. No archive at-or-after the token's
    * generation = the schema never changed since = current file. */
  def extColsAt(path: String, version: Option[String]): Seq[ExtCol] =
    version match {
      case None => extCols(path)
      case Some(tok) =>
        val q = tokenOrd(tok)._1
        val d = Paths.get(path, SchemaHistoryDir)
        val archived: Seq[Long] =
          if (!Files.isDirectory(d)) Nil
          else withListing(d)(_.map(_.getFileName.toString)
            .filter(n => n.startsWith("g") && n.endsWith(".ext"))
            .flatMap(n => scala.util.Try(
              n.stripPrefix("g").stripSuffix(".ext").toLong).toOption)
            .toSeq).sorted
        archived.find(_ >= q) match {
          case Some(k) =>
            extEntriesOf(d.resolve(s"g$k.ext"), s"$path@g$k")
              .zipWithIndex.collect {
                case (e, i) if !e.dropped =>
                  ExtCol(e.field, e.default, 5 + i)
              }
          case None => extCols(path)
        }
    }

  /** Evolved (field, default) pairs — live columns only. Positions
    * NOT included: use [[extCols]] wherever line positions matter. */
  def extSchemaWithDefaults(path: String):
      Seq[(StructField, Option[String])] =
    extCols(path).map(c => (c.field, c.default))

  /** Added (evolved) columns of a table, in ALTER order (live). */
  def extSchema(path: String): Seq[StructField] =
    extCols(path).map(_.field)

  /** The WRITER's physical slot layout: one entry per extension slot
    * in line order, `null` for a tombstone (the writer emits
    * [[NullToken]] there so later columns keep their positions). */
  def extWriteSlots(path: String): Seq[DataType] =
    extEntries(path).map(e => if (e.dropped) null else e.field.dataType)

  /** Parse a stored default token into the reader's internal
    * representation (Long / Double / UTF8String / Int days /
    * Boolean — timestamps store epoch micros, dates epoch days:
    * the same internal renderings Catalyst literals carry, which is
    * what the catalog's DEFAULT extraction hands us). */
  private[sources] def parseDefault(dt: DataType, tok: String): Any =
    dt match {
      case LongType | TimestampType | TimestampNTZType => tok.toLong
      case DoubleType => tok.toDouble
      case DateType => tok.toInt
      case BooleanType => tok.toBoolean
      case _ => UTF8String.fromString(tok)
    }

  /** Append one evolved column (ALTER TABLE ADD COLUMN [DEFAULT d]).
    * The updated extension file lands by atomic rename — a reader
    * sees the old or the new schema, never a torn file.
    * BIGINT/DOUBLE/STRING plus DATE (epoch-day int tokens),
    * TIMESTAMP (epoch-micro long tokens — the base `ts` encoding)
    * and BOOLEAN (`true`/`false` tokens); duplicates and base-column
    * collisions are rejected; a string default must not contain the
    * format's separators. Other types stay refused on purpose: the
    * line format renders one token per slot, and every supported
    * type has a total, order-preserving token form — nested/binary/
    * decimal types would need an escaping layer the format does not
    * have, so refusing them loudly beats encoding them wrong. */
  def addColumn(path: String, name: String, dt: DataType,
      default: Option[String] = None): Unit = {
    dt match {
      case LongType | DoubleType | StringType
           | DateType | TimestampType | TimestampNTZType
           | BooleanType => ()
      case other => throw new UnsupportedOperationException(
        "graftlog ADD COLUMN supports BIGINT/DOUBLE/STRING/DATE/" +
          s"TIMESTAMP/TIMESTAMP_NTZ/BOOLEAN, got $other")
    }
    default.foreach { d =>
      require(!d.contains('|') && !d.contains('\n'),
        s"graftlog column default must not contain '|' or newline: $d")
      require(d != NullToken,
        s"graftlog column default must not be the NULL sentinel: $d")
      parseDefault(dt, d) // must parse for the declared type — fail now
    }
    schemaDdl(path, s"ADD COLUMN $name") { entries =>
      val taken = bucketedSchema.fieldNames.toSeq ++
        entries.filterNot(_.dropped).map(_.field.name)
      require(!taken.contains(name),
        s"column $name already exists on graftlog table $path")
      entries :+ ExtEntry(StructField(name, dt, nullable = true),
        default, dropped = false)
    }
  }

  /** Name of the schema archive: `g<gen>.ext` = the extension schema
    * valid THROUGH generation gen (see [[extColsAt]]). Tiny files,
    * never vacuumed — a snapshot whose shard history was reclaimed
    * fails loudly before its schema is ever consulted. */
  private[sources] val SchemaHistoryDir = "_schema_history"

  /** Run one schema DDL as a versioned commit: pin the current shard
    * listing (pre-DDL tokens must stay resolvable), archive the
    * pre-change schema under the current generation, apply `mutate`
    * to the physical slot list, bump the structural generation, and
    * record the commit marker — so every schema change is a snapshot
    * boundary that time travel and the change feed can anchor to,
    * while costing ZERO data I/O. */
  private def schemaDdl(path: String, what: String)(
      mutate: Seq[ExtEntry] => Seq[ExtEntry]): Unit =
    lockFor(path).synchronized { withFsLock(path) {
      // the flock matters here exactly as it does for commitSwap:
      // DDL is a read-modify-write of _ext_schema plus a generation
      // bump, so two PROCESSES running DDL concurrently would
      // silently lose one mutation (and interleave the archive with
      // a peer's swap apply) if only the in-JVM monitor were held.
      // Generation and entries are read UNDER the flock.
      applySwapIfPresent(path)
      val g = generation(path)
      val entries = extEntries(path)
      val mutated = mutate(entries)
      recordHistory(path, g)
      // archive the PRE-change schema (empty file = "no evolved
      // columns through g"), first-writer-wins like recordHistory
      val d = Paths.get(path, SchemaHistoryDir)
      Files.createDirectories(d)
      val arch = d.resolve(s"g$g.ext")
      if (!Files.exists(arch)) {
        val tmp = d.resolve(s".g$g.ext.tmp." +
          java.util.UUID.randomUUID().toString.take(8))
        val src = Paths.get(path, ExtSchemaFile)
        if (Files.exists(src)) Files.copy(src, tmp)
        else Files.write(tmp, Array.empty[Byte])
        try Files.move(tmp, arch,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileSystemException =>
          Files.deleteIfExists(tmp) }
      }
      writeExtFile(path, mutated)
      bumpGeneration(path)
      recordCommit(path)
    } }

  /** Refuse a DDL that would break a declared CHECK constraint:
    * conservative word-boundary match of the column name inside the
    * constraint SQL (a false positive costs a DROP CONSTRAINT first;
    * a false negative would strand an uncompilable constraint). */
  private def requireNoConstraintOn(path: String, col: String,
      what: String): Unit = {
    val hit = constraints(path).find { case (_, sql) =>
      s"(?i)(?<![A-Za-z0-9_])${java.util.regex.Pattern.quote(col)}(?![A-Za-z0-9_])"
        .r.findFirstIn(sql).isDefined
    }
    hit.foreach { case (nm, sql) =>
      throw new IllegalArgumentException(
        s"cannot $what: CHECK constraint '$nm' ($sql) references " +
          s"column $col — drop the constraint first")
    }
  }

  /** RENAME an evolved column — METADATA-ONLY (the line position is
    * the stable field id, Iceberg-style; no data rewrite at any
    * table size). Base columns are the format's physical contract
    * and do not rename. Secondary index files are keyed by name and
    * CARRY OVER to the new name ([[renameIndexFiles]] — the echoes
    * bind to shard content and the values are the column's own, so
    * pruning continues across the DDL with zero rebuild). */
  def renameColumn(path: String, from: String, to: String): Unit = {
    require(!bucketedSchema.fieldNames.contains(from) &&
      !schema.fieldNames.contains(from),
      s"cannot rename base column $from — the five base positions " +
        "are the format's physical contract")
    require(!to.contains('|') && !to.contains('\n') && to.nonEmpty,
      s"invalid column name: $to")
    requireNoConstraintOn(path, from, s"RENAME COLUMN $from")
    schemaDdl(path, s"RENAME COLUMN $from TO $to") { entries =>
      val i = entries.indexWhere(e => !e.dropped && e.field.name == from)
      require(i >= 0, s"column $from does not exist on graftlog " +
        s"table $path")
      val taken = bucketedSchema.fieldNames.toSeq ++
        entries.filterNot(_.dropped).map(_.field.name)
      require(!taken.contains(to),
        s"column $to already exists on graftlog table $path")
      entries.updated(i,
        entries(i).copy(field = entries(i).field.copy(name = to)))
    }
    // carry under the DDL locks: narrows (does not fully close — the
    // executor-side index writers take no lock) the window where
    // per-epoch maintenance re-writes an old-name file after the
    // carry; any residue is inert for pruning and reclaimed by
    // vacuum's orphan-index sweep
    lockFor(path).synchronized { withFsLock(path) {
      renameIndexFiles(path, from, to) // pruning survives the rename
    } }
  }

  /** DROP an evolved column — METADATA-ONLY: the slot becomes a
    * tombstone (a projection mask), stored values stay in the lines
    * (invisible, reclaimed physically by the next compact/optimize
    * rewrite, which writes [[NullToken]] in the slot), and every
    * later column keeps its position. The name is reusable: a re-add
    * appends a FRESH slot, so old values can never bleed into the
    * new column. */
  def dropColumn(path: String, name: String): Unit = {
    require(!schema.fieldNames.contains(name) &&
      !bucketedSchema.fieldNames.contains(name),
      s"cannot drop base column $name — the five base positions are " +
        "the format's physical contract")
    requireNoConstraintOn(path, name, s"DROP COLUMN $name")
    schemaDdl(path, s"DROP COLUMN $name") { entries =>
      val i = entries.indexWhere(e => !e.dropped && e.field.name == name)
      require(i >= 0, s"column $name does not exist on graftlog " +
        s"table $path")
      entries.updated(i, entries(i).copy(dropped = true))
    }
    // a re-added same-name column must NEVER resolve these (the shard
    // echoes still validate — the files would prune by ghost values)
    dropIndexFiles(path, name)
  }

  /** WIDEN an evolved column's type, long → double only — the one
    * widening the text line format makes exactly safe: every stored
    * long token parses as the double it denotes, so old lines read
    * back widened with zero rewrite and new writes carry doubles.
    * Narrowing and any other conversion are refused (they would need
    * a data rewrite to be honest). */
  def widenColumn(path: String, name: String): Unit = {
    require(!schema.fieldNames.contains(name) &&
      !bucketedSchema.fieldNames.contains(name),
      s"cannot widen base column $name — the five base positions are " +
        "the format's physical contract")
    requireNoConstraintOn(path, name, s"ALTER COLUMN $name TYPE")
    schemaDdl(path, s"WIDEN COLUMN $name") { entries =>
      val i = entries.indexWhere(e => !e.dropped && e.field.name == name)
      require(i >= 0, s"column $name does not exist on graftlog " +
        s"table $path")
      require(entries(i).field.dataType == LongType,
        s"graftlog type widening supports BIGINT -> DOUBLE only; " +
          s"$name is ${entries(i).field.dataType.sql}")
      entries.updated(i, entries(i)
        .copy(field = entries(i).field.copy(dataType = DoubleType)))
    }
    dropIndexFiles(path, name) // long-typed entries never match doubles
  }

  /** How a projected column maps onto the storage: a parsed line
    * field (base positions 0-4; evolved columns appended from 5),
    * the sidecar-sourced bucket, or the shard-name metadata column. */
  sealed trait ColRef extends Serializable
  /** `default` (internal rep: Long/Double/UTF8String, null = none)
    * materializes when a line PREDATES the column (fewer fields) —
    * the exists-default contract; an explicit [[NullToken]] always
    * reads as NULL. Base positions never carry one. */
  case class LineCol(pos: Int, dt: DataType, default: Any = null)
      extends ColRef
  case object UbCol extends ColRef
  case object ShardCol extends ColRef
  case object ChangeTypeCol extends ColRef

  /** Resolve projected column names against base + evolved schema —
    * evolved positions come from [[ExtCol.pos]] (physical slots), so
    * renames/drops/tombstones never shift a column's line field. */
  def resolveCols(requiredCols: Array[String],
      ext: Seq[ExtCol]): Array[ColRef] =
    requiredCols.map {
      case "_shard" => ShardCol
      case "_change_type" => ChangeTypeCol
      case "ub" => UbCol
      case c =>
        val base = schema.fieldNames.indexOf(c)
        if (base >= 0) LineCol(base, schema.fields(base).dataType)
        else {
          val col = ext.find(_.field.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"unknown graftlog column $c"))
          LineCol(col.pos, col.field.dataType,
            col.default.map(parseDefault(col.field.dataType, _))
              .getOrElse(null))
        }
    }

  /** Shards opened by readers since the last reset — the spec's
    * pruning probe (a SparkListener would work too; a counter keeps
    * the assertion exact under local[*]). */
  val filesOpened = new AtomicLong(0)

  /** DELETE-path observability (same role as [[filesOpened]]):
    * whole shards dropped by sidecar stats alone vs shards that had
    * to be rewritten because the delete range cut through them. */
  val shardsDropped = new AtomicLong(0)
  val shardsRewritten = new AtomicLong(0)

  /** Groups (shards) swapped out by a copy-on-write UPDATE/MERGE/
    * DELETE-fallback commit ([[GraftLogReplaceBatchWrite]]). */
  val groupsReplaced = new AtomicLong(0)

  /** Fold a pushed DELETE condition into ONE inclusive event_id range
    * [lo, hi], or None when any conjunct is not an event_id
    * comparison. The restriction is the scale contract, not laziness:
    * a contiguous id range touches at most TWO partial shards no
    * matter how big the table is (everything in between drops by
    * sidecar stats — metadata-only), whereas an arbitrary predicate
    * (user_id % 2 = 0) would rewrite every shard; such deletes belong
    * to the compaction/anti-join path (Retention.forget, q177). */
  def deleteRange(filters: Array[Filter]): Option[(Long, Long)] = {
    def num(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    // a strict bound past either end of the Long range is the empty
    // interval (lo > hi), never a wrap-around to the whole table
    val empty = (Long.MaxValue, Long.MinValue)
    filters.foldLeft(Option((Long.MinValue, Long.MaxValue))) {
      case (None, _) => None
      case (Some((lo, hi)), f) => f match {
        case LessThan("event_id", v) => num(v).map(x =>
          if (x == Long.MinValue) empty else (lo, hi.min(x - 1)))
        case LessThanOrEqual("event_id", v) => num(v).map(x => (lo, hi.min(x)))
        case GreaterThan("event_id", v) => num(v).map(x =>
          if (x == Long.MaxValue) empty else (lo.max(x + 1), hi))
        case GreaterThanOrEqual("event_id", v) =>
          num(v).map(x => (lo.max(x), hi))
        case EqualTo("event_id", v) => num(v).map(x => (lo.max(x), hi.min(x)))
        // TRUNCATE TABLE arrives as the single filter [AlwaysTrue]
        case _: org.apache.spark.sql.sources.AlwaysTrue => Some((lo, hi))
        case _ => None
      }
    }
  }

  /** Execute `DELETE WHERE event_id IN [lo, hi]` against a shard dir.
    * Shards fully inside the range are dropped by their SIDECAR STATS
    * alone (file delete, no data read — at 100 TB a retention window
    * drop is O(#shards) manifest work and zero I/O); shards fully
    * outside are untouched; the ≤ 2 boundary shards (and any shard
    * missing its sidecar) are rewritten in place with fresh stats.
    * The rewrite preserves a bucketed shard's ub sidecar field. */
  def deleteWhere(path: String, lo: Long, hi: Long): Unit =
    retryOnConflict(s"deleteRange($path)")(deleteWhereOnce(path, lo, hi))

  private def deleteWhereOnce(path: String, lo: Long, hi: Long): Unit = {
    // ONE swap commit for the whole delete (r11): per-shard commits
    // would bump the generation once per rewritten shard, minting
    // history-less intermediate generations AND letting a reader
    // observe a half-deleted table between them; batching every drop
    // and staged rewrite behind a single manifest rename makes the
    // delete atomic — readers see the table before it or after it,
    // never between — with exactly one generation bump and one pinned
    // history listing.
    applySwapIfPresent(path) // settle any pending manifest first so
    // the generation read below is the one the listing reflects
    val g0 = generation(path)
    val drops = scala.collection.mutable.ArrayBuffer.empty[String]
    val promotes =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    // counters bump only after a SUCCESSFUL commit — a lost optimistic
    // race retries the whole pass and must not double-count
    var nDropped = 0L
    var nRewritten = 0L
    listShards(path).foreach { si =>
      val covered = si.stats.map { case (mn, mx, _) => mn >= lo && mx <= hi }
      val disjoint = si.stats.exists { case (mn, mx, _) => mx < lo || mn > hi }
      if (covered.contains(true)) {
        drops += si.file // retired (retention) at the swap roll-forward
        nDropped += 1
      } else if (!disjoint) { // partial overlap or no sidecar: rewrite
        // a rewrite must not resurrect rows a deletion vector already
        // suppressed: the shard's valid dv applies to the kept lines
        // (its files then retire with the old content at the swap)
        val dv: Array[Long] = dvFileFor(path,
            Paths.get(si.file).getFileName.toString, si,
            generation(path))
          .map(dvKeys).getOrElse(Array.empty[Long])
        val kept = readShardLines(si.file)
          .filter(_.nonEmpty)
          .filter { line =>
            val id = line.substring(0, line.indexOf('|')).toLong
            (id < lo || id > hi) &&
              (dv.isEmpty || java.util.Arrays.binarySearch(dv, id) < 0)
          }
        if (kept.isEmpty) {
          drops += si.file
        } else {
          // staged as a hidden tmp; the manifest's promote rename
          // supersedes the old shard in place — a reader can never
          // see a torn half-written shard
          val name = Paths.get(si.file).getFileName.toString
          val hidden = s".del-$name.tmp"
          Files.write(Paths.get(path, hidden),
            kept.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
          val ids = kept.map(l => l.substring(0, l.indexOf('|')).toLong)
          val ub = si.ub.map(u => s"|$u").getOrElse("")
          promotes += ((hidden, name, s"${ids.min}|${ids.max}|${ids.size}$ub"))
        }
        nRewritten += 1
      }
    }
    if (drops.nonEmpty || promotes.nonEmpty) {
      try commitSwap(path, drops.toSeq, promotes.toSeq,
        expectGen = Some(g0))
      catch {
        case e: GraftLogConcurrentWriteException =>
          promotes.foreach(p =>
            Files.deleteIfExists(Paths.get(path, p._1)))
          throw e
      }
      shardsDropped.addAndGet(nDropped)
      shardsRewritten.addAndGet(nRewritten)
    }
  }

  /** A shard plus its sidecar stats (None = sidecar missing: the
    * shard is readable but unprunable and cannot serve aggregates)
    * and, for bucketed layouts, its bucket value. */
  case class ShardInfo(file: String, stats: Option[(Long, Long, Long)],
      ub: Option[Long] = None) {
    /** Size of the listed content: a structural commit landing after
      * the listing moves the shard to the retired store, and the
      * maintenance ops that bin by size (optimize) or echo it into a
      * deletion vector still see the bytes they listed. */
    def bytes: Long = throughRetired(file)(Files.size)
  }

  /** Name of the pending-swap manifest — the commit point of every
    * multi-shard atomic operation (copy-on-write UPDATE/MERGE,
    * INSERT OVERWRITE/TRUNCATE-write, compaction). See [[commitSwap]]. */
  private[sources] val SwapManifest = "_swap.manifest"

  /** List a directory with the stream CLOSED on exit — Files.list
    * holds a directory fd until closed, and planning calls listShards
    * per query; leaking one fd per plan would EMFILE a long-lived
    * driver session. */
  private def withListing[A](dir: java.nio.file.Path)(
      f: Iterator[java.nio.file.Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Atomically commit a shard swap: `drops` (live shard files to
    * retire) and `promotes` (hidden tmp → final shard name + sidecar
    * body) become visible ALL AT ONCE when the manifest lands by
    * atomic rename — the lakehouse commit protocol in one file.
    * Before the manifest exists, readers see exactly the old
    * generation (deferred tmps are hidden: they match neither
    * `*.graftlog` nor the streaming poll); after it exists, every
    * reader rolls the swap forward via [[applySwapIfPresent]] before
    * listing, so no read can ever observe both generations (the
    * duplicate-row window the pre-manifest two-phase commit had) or
    * neither.
    *
    * The manifest records the generation it supersedes (`gen|<g>`
    * first line) and distinguishes fresh-name promotes (`promote`)
    * from same-name in-place rewrites (`rewrite`, detected here by
    * the final name already existing) — both are load-bearing for
    * the race-safety of the roll-forward, see [[applySwapIfPresent]].
    * Multi-WRITER commits racing two DIFFERENT manifests are out of
    * scope, as for any file-format table without a catalog lock (the
    * reference's Redshift upsert has the same single-writer
    * assumption); concurrent READERS racing the committer (or each
    * other) over ONE manifest converge — see the roll-forward. */
  def commitSwap(path: String, drops: Seq[String],
      promotes: Seq[(String, String, String)],
      dvs: Seq[(String, String)] = Nil,
      expectGen: Option[Long] = None): Unit =
    lockFor(path).synchronized { withFsLock(path) {
      // the manifest NAME is shared with streaming-epoch commits: the
      // in-JVM lock + the cross-process advisory file lock
      // ([[withFsLock]]) plus completing any pending manifest first
      // keep this rename from replacing an unapplied one
      applySwapIfPresent(path)
      // OPTIMISTIC structural-commit validation (r13): a rewrite that
      // decided its drops/promotes against generation g must find the
      // table STILL at g here, under the lock — otherwise another
      // structural writer (compact ∥ delete, dv ∥ compact, …) landed
      // in between and committing would retire the wrong content or
      // resurrect suppressed rows. Pure appends never bump the
      // structural generation, so the blind-append-commutes contract
      // is unaffected. Callers retry (driver-side rewrites recompute
      // cheaply) or abort loudly (V2 write jobs cannot recompute rows
      // at commit).
      expectGen.foreach { g =>
        val now = generation(path)
        if (now != g)
          throw new GraftLogConcurrentWriteException(
            s"graftlog $path: structural generation moved $g -> $now " +
              "between this rewrite's read and its commit — another " +
              "structural writer landed; the operation must re-read " +
              "and retry")
      }
      val body = (s"gen|${generation(path)}" +:
        (drops.map(f => s"drop|${Paths.get(f).getFileName}") ++
          promotes.map { case (tmp, fin, meta) =>
            val op =
              if (Files.exists(Paths.get(path, fin))) "rewrite"
              else "promote"
            s"$op|$tmp|$fin|$meta"
          } ++
          // deletion-vector publishes: hidden tmp → _dv/<name>.g<G>.dv
          // ('/' never appears in shard names, so the two path fields
          // stay unambiguous in the '|'-split format)
          dvs.map { case (tmp, fin) => s"dv|$tmp|$fin" }))
        .mkString("", "\n", "\n")
      val mTmp = Paths.get(path, s".$SwapManifest.tmp")
      Files.write(mTmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(mTmp, Paths.get(path, SwapManifest),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE) // ← the commit point
      applySwapIfPresent(path)
    } }

  /** Publish a staged tmp under its final name with EXCLUSIVE
    * semantics: hardlink (link(2) fails atomically if the target
    * exists — unlike rename(2), which silently replaces on POSIX),
    * then unlink the tmp. Lost races and re-entries no-op: a missing
    * tmp means another thread already published and cleaned up; an
    * existing fin means the publish itself is done (shard-index
    * claims guarantee no unrelated writer can hold the name — see
    * [[claimShardIndices]]), so only the leftover tmp needs removal. */
  private def publishExclusive(tmp: java.nio.file.Path,
      fin: java.nio.file.Path): Unit = {
    try {
      Files.createLink(fin, tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.NoSuchFileException => ()
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
    }
  }

  /** Roll a pending swap forward (crash recovery + read-path
    * barrier): called at the top of every listing, so a manifest left
    * by a crashed committer is completed by the next reader.
    *
    * RACE-SAFE by file-system arbitration, not by locking: any number
    * of readers and the committer may execute this concurrently for
    * the same manifest and converge on the same final state, because
    * every mutation is an atomic single-winner operation whose losers
    * no-op —
    *
    *  - the generation is pinned IN the manifest (`gen|<g>` line), so
    *    a straggler thread that resumes after others completed still
    *    retires into `_retired/g<g>/` where the occupied destination
    *    rejects it (FileAlreadyExists → no-op), never into a fresh
    *    later-generation dir (the r11 TOCTOU: a stale `exists(tmp)`
    *    check let a straggler retire a just-promoted NEW shard);
    *  - `promote` (fresh name) never retires anything — there is no
    *    old content under that name by construction, so the one
    *    data-loss interleaving is unreachable;
    *  - `rewrite` (same name) retires the old fin FIRST — the move
    *    into the pinned retired slot is the claim: exactly one thread
    *    wins it (occupancy arbitrates), and only then is the tmp
    *    linked in under the now-free name;
    *  - publishes are exclusive hardlinks ([[publishExclusive]]), so
    *    a late thread can never clobber the new shard with a replace;
    *  - the generation bump claims EXACTLY g+1 (atomic create of
    *    `_generation.<g+1>`; already-exists → someone bumped → no-op)
    *    instead of incrementing whatever it reads, so N threads
    *    racing one manifest produce one bump, not N phantom
    *    generations — and the bump lands BEFORE the manifest delete,
    *    so a crash between them re-enters with every entry already
    *    idempotent and the claim already taken. */
  /** Guard a manifest publish entry against SILENT shard loss: if
    * both the staged tmp and the final name are missing, the entry
    * can never complete — publishExclusive would no-op (its
    * NoSuchFileException swallow exists for lost RACES, where the
    * winner's fin survives) and the sidecar write would then declare
    * a shard that does not exist: committed inserts vanish, retired
    * deletes resurrect, and sidecar-served aggregates count phantom
    * rows. That state means the staged tmp was destroyed before its
    * promote (e.g. an over-eager external cleanup) — fail the
    * roll-forward LOUDLY instead. Returns false (skip the entry,
    * no throw) only when the swap demonstrably completed without us:
    * the manifest file is gone, or the structural generation already
    * moved past the manifest's pinned g0 — a straggler thread
    * re-walking a finished manifest must not spuriously kill a
    * reader. */
  private def requirePublishable(path: String, m: java.nio.file.Path,
      g0: Long, tmp: java.nio.file.Path, fin: java.nio.file.Path,
      what: String): Boolean = {
    if (Files.exists(tmp) || Files.exists(fin)) return true
    if (!Files.exists(m) || generation(path) != g0) return false
    throw new IllegalStateException(
      s"graftlog $path: swap-manifest $what entry " +
        s"${tmp.getFileName} -> ${fin.getFileName} has NEITHER its " +
        "staged tmp nor its published file — the staged artifact " +
        "was destroyed before commit (external cleanup racing a " +
        "live job?). Refusing to roll the commit forward without " +
        "it: completing would silently drop the shard. Remove the " +
        s"manifest ${m.getFileName} to abandon the whole operation.")
  }

  def applySwapIfPresent(path: String): Unit = {
    val m = Paths.get(path, SwapManifest)
    if (!Files.exists(m)) return
    val lines =
      try Files.readAllLines(m, StandardCharsets.UTF_8).asScala
      catch { case _: java.nio.file.NoSuchFileException => return }
    val entries = lines.filter(_.nonEmpty).map(_.split('|'))
    // the generation this swap supersedes — pinned in the manifest so
    // every racer (including post-completion stragglers) retires into
    // the SAME store; fallback for a manifest without the line
    val g0: Long = entries.collectFirst { case p if p(0) == "gen" =>
      p(1).toLong }.getOrElse(generation(path))
    // a pure-APPEND manifest (streaming epoch commit): nothing is
    // superseded, so no history pin and no generation bump — the
    // manifest only buys atomic multi-shard visibility + crash
    // completion + the idempotence marker
    val appendOnly: Boolean = entries.exists(p =>
      p(0) == "gen" && p.length > 2 && p(2) == "append")
    // retention bookkeeping BEFORE any mutation: pin this
    // generation's shard listing so pre-rewrite snapshot tokens stay
    // resolvable (first entrant wins; a crashed-and-resumed
    // application finds it already written)
    if (!appendOnly) recordHistory(path, g0)
    entries.foreach { p =>
      p(0) match {
        case "gen" => ()
        case "mark" =>
          // epoch-idempotence marker: lands only when the manifest
          // does, so "marker exists" ⟺ "this epoch's shards are (or
          // will be, via roll-forward) visible"
          val d = Paths.get(path, EpochsDir)
          Files.createDirectories(d)
          try Files.createFile(d.resolve(p(1)))
          catch {
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
        case "drop" =>
          // RETAIN, don't delete: superseded shards move to the
          // retired store so snapshot tokens of this generation keep
          // reading until VACUUM reclaims them
          retire(path, Paths.get(path, p(1)).toString, g0)
        case "rewrite" =>
          // same-name in-place rewrite: the OLD content belongs to
          // the pre-swap generation — retire it first (single-winner:
          // the retired slot g0/<name> is the claim), then link the
          // staged tmp in under the freed name
          val tmp = Paths.get(path, p(1))
          val fin = Paths.get(path, p(2))
          if (requirePublishable(path, m, g0, tmp, fin, "rewrite")) {
            if (Files.exists(tmp) && Files.exists(fin))
              retire(path, fin.toString, g0)
            publishExclusive(tmp, fin)
            writeMetaAtomic(path,
              p(2).stripSuffix(".graftlog") + ".meta",
              p.drop(3).mkString("|"))
          }
        case "promote" =>
          // fresh name: nothing to retire, ever — the exclusive link
          // is the whole promote
          val tmp = Paths.get(path, p(1))
          val fin = Paths.get(path, p(2))
          if (requirePublishable(path, m, g0, tmp, fin, "promote")) {
            publishExclusive(tmp, fin)
            writeMetaAtomic(path,
              p(2).stripSuffix(".graftlog") + ".meta",
              p.drop(3).mkString("|"))
          }
        case "dv" =>
          // deletion-vector publish: like a promote, nothing is ever
          // retired (the vector is ADDITIVE metadata); the generation
          // tag in its name keeps it invisible until the bump below
          val tmp = Paths.get(path, p(1))
          val fin = Paths.get(path, p(2))
          if (requirePublishable(path, m, g0, tmp, fin, "dv")) {
            Files.createDirectories(Paths.get(path, DvDir))
            publishExclusive(tmp, fin)
          }
        case other =>
          throw new IllegalStateException(
            s"corrupt swap manifest entry in $path: $other")
      }
    }
    // every swap retires/replaces shards — snapshot tokens minted
    // before it move to the RETAINED tier: claim exactly g0+1 (not
    // "whatever + 1" — racers of one manifest must produce ONE bump),
    // BEFORE the manifest delete so a crash between them cannot lose
    // the bump. Pure-append manifests never bump (nothing retired).
    if (!appendOnly) claimGeneration(path, g0 + 1)
    if (Files.deleteIfExists(m)) recordCommit(path)
  }

  /** ---- Snapshot retention + VACUUM (r11) ----
    *
    * Structural rewrites no longer destroy history at retention 0:
    * each mutation first pins the CURRENT generation's shard listing
    * under `_history/g<gen>.names`, and every superseded shard file
    * (+ sidecar) moves to `_retired/g<gen>/` instead of being
    * deleted — so a snapshot token `g<gen>.<n>` minted before the
    * rewrite keeps reading its exact rows afterwards (the
    * Delta/Iceberg time-travel-across-commits contract). Storage is
    * reclaimed EXPLICITLY by [[vacuum]], after which vacuumed tokens
    * fail loudly while current (and retained) tokens still read.
    *
    * Resolution rule for a historical token of generation g: take the
    * first n names from `_history/g<g>.names`; each name's content AS
    * OF g is the copy retired at the FIRST rewrite ≥ g that touched
    * it (`_retired/g<r>/<name>`, smallest r ≥ g), or the live file if
    * no rewrite since touched it. Mutations are single-writer (the
    * format's documented assumption); tokens minted between completed
    * operations are exact.
    */
  private[sources] val HistoryDir = "_history"
  private[sources] val RetiredDir = "_retired"

  /** Pin generation `g`'s live shard listing (idempotent,
    * first-writer-wins). Raw directory listing on purpose — this is
    * called from inside the swap roll-forward, so it must not
    * re-enter [[listShards]]; `g` is the manifest-pinned generation,
    * not a fresh read (see [[applySwapIfPresent]]'s race notes). */
  private def recordHistory(path: String, g: Long): Unit = {
    val f = Paths.get(path, HistoryDir, s"g$g.names")
    if (Files.exists(f)) return
    Files.createDirectories(f.getParent)
    val names = withListing(Paths.get(path))(_
      .map(_.getFileName.toString)
      .filter(_.endsWith(".graftlog")).toSeq).sorted
    val tmp = Paths.get(path, HistoryDir,
      s".g$g.names.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, names.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // exclusive, not a rename: two racers can both pass the exists
    // check, and the slower one may list AFTER the faster one began
    // retiring this generation's shards — a rename would replace the
    // full listing with that shorter one, and every token of `g` past
    // it would stop resolving
    publishExclusive(tmp, f)
  }

  /** Move a superseded shard (+ sidecar) into the retired store of
    * generation `g` — the manifest-pinned generation its content was
    * live through, passed in (never re-read) so a straggler racing a
    * completed roll-forward targets the SAME store, where occupancy
    * arbitrates. Both lost-race shapes no-op: the file already gone
    * (another thread moved it) and the destination already occupied
    * (another thread retired it — and, in the straggler case, what we
    * are holding is the just-promoted NEW shard, which must NOT move;
    * the occupied slot is exactly what protects it). */
  private[sources] def retire(path: String, shardFile: String,
      g: Long): Unit = {
    val dst = Paths.get(path, RetiredDir, s"g$g")
    Files.createDirectories(dst)
    val name = Paths.get(shardFile).getFileName.toString
    val won =
      try {
        Files.move(Paths.get(shardFile), dst.resolve(name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        case _: java.nio.file.NoSuchFileException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    // the meta rides ONLY with the shard-move win: a loser touching
    // the live meta could be holding the already-promoted NEW
    // sidecar (straggler case), which must stay in place
    val meta = Paths.get(shardFile.stripSuffix(".graftlog") + ".meta")
    if (won && Files.exists(meta))
      try Files.move(meta,
        dst.resolve(name.stripSuffix(".graftlog") + ".meta"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.NoSuchFileException => ()
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    // deletion vectors ride with the content they describe: every
    // live dv of this shard name moves into the same retired store,
    // so (a) historical reads find shard copy + vector side by side,
    // (b) live `_dv/` never holds vectors for dead files — a later
    // shard reusing the name can't meet a leftover vector — and
    // (c) VACUUM reclaims both together. Winner-only, like the meta.
    if (won) {
      val dvd = Paths.get(path, DvDir)
      if (Files.isDirectory(dvd))
        withListing(dvd)(_.filter { f =>
          f.getFileName.toString match {
            case DvName(n, _) => n == name
            case _ => false
          }
        }.toSeq).foreach { f =>
          try Files.move(f, dst.resolve(f.getFileName.toString),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: java.nio.file.NoSuchFileException => ()
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
        }
    }
  }

  /** Shard list of a RETAINED historical snapshot (generation g <
    * current): the token's prefix of the pinned listing, each name
    * resolved to its as-of-g content. Fails loudly when VACUUM has
    * reclaimed the needed history. */
  private def shardsAtHistorical(path: String, g: Long,
      n: Int): Seq[ShardInfo] = {
    val hist = Paths.get(path, HistoryDir, s"g$g.names")
    if (!Files.exists(hist))
      throw new IllegalArgumentException(
        s"graftlog generation $g of $path has been vacuumed — its " +
          "history manifest and retired shards were reclaimed; " +
          "snapshots survive rewrites only until VACUUM passes their " +
          "retention window")
    val names = Files.readAllLines(hist, StandardCharsets.UTF_8)
      .asScala.filter(_.nonEmpty).toSeq
    if (n > names.size)
      throw new IllegalArgumentException(
        s"graftlog version g$g.$n of $path names $n shards but " +
          s"generation $g held only ${names.size}")
    // retired generations ≥ g, ascending: first hit = content as of g
    val rd = Paths.get(path, RetiredDir)
    def retiredGens(): Seq[Long] =
      if (!Files.isDirectory(rd)) Seq.empty[Long]
      else withListing(rd)(_.map(_.getFileName.toString).toSeq)
        .collect { case s if s.startsWith("g") &&
          s.drop(1).forall(_.isDigit) => s.drop(1).toLong }
        .filter(_ >= g).sorted
    val gens = retiredGens()
    def find(gs: Seq[Long], name: String): Option[java.nio.file.Path] =
      (gs.iterator.map(r => Paths.get(path, RetiredDir, s"g$r", name)) ++
        Iterator(Paths.get(path, name))).find(Files.exists(_))
    names.take(n).map { name =>
      // second look re-lists the retired store: a structural commit
      // racing this resolution can move the shard live → retired
      // AFTER the gens listing above (its new g-dir did not exist
      // yet) — the retry sees the completed move; only a truly
      // reclaimed shard fails
      find(gens, name).orElse(find(retiredGens(), name)) match {
        case Some(p) => shardInfoOf(p.toString)
        case None => throw new IllegalArgumentException(
          s"graftlog shard $name of generation $g of $path has been " +
            "vacuumed — the snapshot is no longer servable")
      }
    }
  }

  /** Commit-history listing (Delta's DESCRIBE HISTORY for the
    * format): one row per generation 0..current — how many shards its
    * snapshot listing pins, whether its history is still resolvable
    * (false = vacuumed), what the retired store holds for it, and
    * which generation is live. Driver-side manifest reads only,
    * O(generations + retired files) — never a data scan. The row a
    * retention policy or an incident review actually reads before
    * deciding what VACUUM may reclaim. */
  def history(path: String):
      Seq[(Long, Int, Boolean, Long, Long, Boolean)] = {
    applySwapIfPresent(path)
    val cur = generation(path)
    (0L to cur).map { g =>
      val pinned =
        if (g == cur) listShards(path).size
        else {
          val h = Paths.get(path, HistoryDir, s"g$g.names")
          if (!Files.exists(h)) -1
          else Files.readAllLines(h, StandardCharsets.UTF_8)
            .asScala.count(_.nonEmpty)
        }
      val rd = Paths.get(path, RetiredDir, s"g$g")
      val (rf, rb) =
        if (!Files.isDirectory(rd)) (0L, 0L)
        else withListing(rd)(_.foldLeft((0L, 0L)) { case ((n, b), f) =>
          (n + 1, b + (try Files.size(f)
            catch { case _: java.io.IOException => 0L })) })
      (g, if (pinned < 0) 0 else pinned, pinned >= 0, rf, rb, g == cur)
    }
  }

  /** ZERO-COPY shallow clone (Delta's CLONE, the lakehouse
    * dev/test/branching primitive): materialize the snapshot
    * `version` of `src` (default: current) as an independent table at
    * `dst` by HARDLINKING its shard files + sidecars — no data bytes
    * move, clone cost is O(#shards) metadata ops at any table size.
    * The clone starts its own life: fresh generation namespace, its
    * appends/rewrites/vacuums never touch the source, and — the
    * hardlink property — a later rewrite+VACUUM on the SOURCE cannot
    * pull data out from under the clone (the inode survives while any
    * link holds it; same guarantee both directions). Same-filesystem
    * only (hardlinks); falls back to a copy per file when the link
    * fails (cross-device), degrading to a deep clone, not an error. */
  def shallowClone(src: String, dst: String,
      version: Option[String] = None): Int = {
    val shards = shardsAt(src, version)
    val d = Paths.get(dst)
    require(!Files.exists(d) || withListing(d)(_.isEmpty),
      s"clone destination $dst must be empty")
    Files.createDirectories(d)
    def linkOrCopy(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
      try Files.createLink(to, from)
      catch { case _: java.io.IOException => Files.copy(from, to) }
    shards.foreach { si =>
      val name = Paths.get(si.file).getFileName.toString
      linkOrCopy(Paths.get(si.file), d.resolve(name))
      val meta = Paths.get(si.file.stripSuffix(".graftlog") + ".meta")
      if (Files.exists(meta))
        linkOrCopy(meta, d.resolve(name.stripSuffix(".graftlog") + ".meta"))
    }
    // an evolved source clones with its added columns intact; table
    // properties (retention policy) travel with the clone too
    val ext = Paths.get(src, ExtSchemaFile)
    if (Files.exists(ext)) Files.copy(ext, d.resolve(ExtSchemaFile))
    val ret = Paths.get(src, RetentionFile)
    if (Files.exists(ret)) Files.copy(ret, d.resolve(RetentionFile))
    // the clone's own commit history starts here (its generations are
    // fresh, so the source's commit markers would resolve wrong)
    recordCommit(dst)
    shards.size
  }

  /** Reclaim snapshot history: delete retired shard copies, history
    * manifests, and superseded generation-claim files for every
    * generation OLDER than (current − retainGenerations), optionally
    * only when the artifacts are at least `minAgeMs` old (the
    * RETAIN-window form). Returns (files deleted, bytes reclaimed).
    * Tokens at vacuumed generations fail loudly afterwards; the
    * current generation — and any within the retention window — keep
    * reading (GraftLogVersionSpec pins both sides). Driver-side
    * metadata work, O(#retired files): the same cost class as the
    * listing, never a data scan. */
  /** Table-level retention policy (`_retention` file, atomic write):
    * the DEFAULTS [[vacuum]] applies when called without explicit
    * knobs — the piece that makes the SQL-only lifecycle complete
    * (`CALL glog.set_retention(...)` once, then every plain
    * `CALL glog.vacuum(table => …)` honors it). */
  private[sources] val RetentionFile = "_retention"

  def setRetention(path: String, retainGenerations: Int,
      minAgeMs: Long): Unit = {
    require(retainGenerations >= 0 && minAgeMs >= 0L,
      s"retention policy must be non-negative, got " +
        s"($retainGenerations, $minAgeMs)")
    val tmp = Paths.get(path, s".$RetentionFile.tmp." +
      java.util.UUID.randomUUID().toString.take(8))
    Files.write(tmp, s"$retainGenerations|$minAgeMs"
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path, RetentionFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The stored policy, or (0, 0) — reclaim everything — when none
    * was ever set. */
  def retentionPolicy(path: String): (Int, Long) = {
    val f = Paths.get(path, RetentionFile)
    if (!Files.exists(f)) (0, 0L)
    else {
      val p = new String(Files.readAllBytes(f),
        StandardCharsets.UTF_8).trim.split('|')
      (p(0).toInt, p(1).toLong)
    }
  }

  /** Rebuild MISSING sidecars (a writer that crashed between shard
    * and sidecar leaves a readable but unprunable, aggregate-blocking
    * shard): scan only those shards, recompute min|max|rows, write
    * atomically. Returns (shards listed, sidecars rebuilt).
    * Driver-side and O(missing shards × shard size) — shards are
    * written bounded, and a healthy table has zero missing, so the
    * common case is a pure listing. Bucket values are NOT recoverable
    * (the bucket count is not recorded in the layout), so a rebuilt
    * sidecar carries no ub — exactly the pre-crash pruning/aggregate
    * capability is restored, never an invented layout claim. */
  def analyze(path: String): (Int, Int) = {
    val shards = listShards(path)
    val missing = shards.filter(_.stats.isEmpty)
    missing.foreach { si =>
      val ids = readShardLines(si.file)
        .filter(_.nonEmpty)
        .map(l => l.substring(0, l.indexOf('|')).toLong)
      if (ids.nonEmpty) {
        val name = Paths.get(si.file).getFileName.toString
        writeMetaAtomic(path,
          name.stripSuffix(".graftlog") + ".meta",
          s"${ids.min}|${ids.max}|${ids.size}")
      }
    }
    (shards.size, missing.size)
  }

  /** `retainGenerations` / `minAgeMs` < 0 (the default) resolve to
    * the table's stored retention policy ([[setRetention]]); explicit
    * non-negative values override it. */
  /** Remove ABANDONED staging directories (a killed compact/cluster/
    * incremental-cluster leaves its per-attempt-unique dir behind —
    * nothing else ever deletes it since staging names stopped being
    * fixed). Age-gated ([[stageSweepCutoff]]) so a CONCURRENT op's
    * live staging is never touched — a full compact of a huge table
    * can legitimately stage for hours, so the gate is a day, not the
    * old hour. Called by [[vacuum]] — the reclaim op. */
  /** Age gate for the abandoned-stage sweeps. 24 h default — NOT the
    * old 1 h: staged artifacts legitimately live for the whole
    * task-commit→job-commit window (a straggler-heavy distributed
    * merge) or a whole driver-side rewrite (a full compact of a huge
    * table), both of which can exceed an hour. Sweeping a LIVE staged
    * tmp is silent data loss at the later promote, so the gate errs
    * long: litter surviving a day costs bytes, a swept live stage
    * costs rows. Floor-ed by the vacuum call's minAge so a
    * conservative retention policy automatically protects staging
    * too; conf-overridable for tests and aggressive cleanups. */
  private def stageSweepCutoff(minAgeMs: Long): Long = {
    val conf =
      try org.apache.spark.sql.SparkSession.active.conf
        .get("spark.graft.vacuum.stageSweepAgeMs", "86400000").toLong
      catch { case scala.util.control.NonFatal(_) => 86400000L }
    System.currentTimeMillis() - math.max(conf, minAgeMs)
  }

  private def sweepAbandonedStaging(path: String,
      minAgeMs: Long): Long = {
    val parent = Paths.get(path).toAbsolutePath.getParent
    if (parent == null || !Files.isDirectory(parent)) return 0L
    // EXACT staging-name shapes only — '<table>__<op>_tmp-<uuid>'.
    // A bare '<table>__' prefix match would also sweep an UNRELATED
    // sibling table that merely shares the name prefix (a table
    // named 'events__archive' next to 'events'): vacuum must never
    // be able to destroy data it does not own.
    val table = Paths.get(path).getFileName.toString
    val staging = Seq("compact_tmp-", "cluster_tmp-", "zinc_src-",
      "zinc_tmp-").map(op => s"${table}__$op")
    val cutoff = stageSweepCutoff(minAgeMs)
    var removed = 0L
    withListing(parent)(_.filter { d =>
      val n = d.getFileName.toString
      staging.exists(st => n.startsWith(st) && n.length > st.length) &&
        Files.isDirectory(d) &&
        (try Files.getLastModifiedTime(d).toMillis < cutoff
         catch { case _: java.io.IOException => false })
    }.toSeq).foreach { d =>
      val w = Files.walk(d)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); removed += 1 })
      finally w.close()
    }
    removed
  }

  /** Remove ABANDONED in-table hidden stage files (a hard-killed
    * task — OOM-killer, preemption — leaves its `.…tmp` litter
    * behind: delta/append row tmps, spill runs, dv stage/hit files;
    * `abort()` never ran, and nothing else ever deletes them). Same
    * age gate as the staging-dir sweep ([[stageSweepCutoff]]): a
    * live stage file is NOT always seconds old — task-staged tmps
    * (delta-writer row tmps, dv stages, CoW rewrite tmps) live from
    * task commit until JOB commit, which stragglers can stretch past
    * an hour — so the gate is a day, floor-ed by vacuum's minAge.
    * Hidden `.tmp`-suffixed files only — shards, sidecars,
    * manifests, `_structural.lock` are never hidden or never
    * `.tmp`. */
  private def sweepAbandonedStageTmps(path: String,
      minAgeMs: Long): Long = {
    val d = Paths.get(path)
    if (!Files.isDirectory(d)) return 0L
    val cutoff = stageSweepCutoff(minAgeMs)
    var removed = 0L
    withListing(d)(_.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".tmp") &&
        Files.isRegularFile(p) &&
        (try Files.getLastModifiedTime(p).toMillis < cutoff
         catch { case _: java.io.IOException => false })
    }.toSeq).foreach { p =>
      if (Files.deleteIfExists(p)) removed += 1
    }
    removed
  }

  def vacuum(path: String, retainGenerations: Int = -1,
      minAgeMs: Long = -1L): (Long, Long) = {
    val stored = retentionPolicy(path)
    val retain =
      if (retainGenerations < 0) stored._1 else retainGenerations
    val minAge = if (minAgeMs < 0L) stored._2 else minAgeMs
    applySwapIfPresent(path) // complete any pending swap first
    sweepAbandonedStaging(path, minAge)
    sweepAbandonedStageTmps(path, minAge)
    sweepOrphanIndexFiles(path)
    val g = generation(path)
    val keepFrom = g - retain
    val cutoff = System.currentTimeMillis() - minAge
    var files = 0L
    var bytes = 0L
    def del(p: java.nio.file.Path): Unit = {
      bytes += (try Files.size(p) catch { case _: java.io.IOException => 0L })
      if (Files.deleteIfExists(p)) files += 1
    }
    def genOf(name: String, prefix: String): Option[Long] = {
      val s = name.stripPrefix(prefix)
      if (name.startsWith(prefix) && s.nonEmpty && s.forall(_.isDigit))
        Some(s.toLong)
      else None
    }
    // Per-GENERATION reclaim, ONE age decision driving both artifacts
    // and history-manifest-first deletion order — both load-bearing
    // (the r11 shape reclaimed _retired/g<r> before _history/g<r>
    // .names in separate loops with separate mtime checks, so a crash
    // or a cutoff landing between them could leave the generation
    // RESOLVABLE while its retired copies were gone; for a shard
    // rewritten in place under the same name, historical resolution
    // then fell through to the LIVE file and silently served
    // post-rewrite rows to a retained token). Deleting the history
    // manifest first makes the generation loudly unresolvable before
    // any of its data disappears: the failure mode of a crash
    // mid-vacuum is "snapshot fails although its bytes survive" —
    // never "snapshot reads wrong bytes".
    val rd = Paths.get(path, RetiredDir)
    val hd = Paths.get(path, HistoryDir)
    val retiredGens =
      if (!Files.isDirectory(rd)) Set.empty[Long]
      else withListing(rd)(_.map(_.getFileName.toString).toSeq)
        .flatMap(genOf(_, "g")).toSet
    val historyGens =
      if (!Files.isDirectory(hd)) Set.empty[Long]
      else withListing(hd)(_.map(_.getFileName.toString).toSeq)
        .filter(_.endsWith(".names"))
        .flatMap(n => genOf(n.stripSuffix(".names"), "g")).toSet
    (retiredGens ++ historyGens).filter(_ < keepFrom).toSeq.sorted
      .foreach { r =>
        val hist = hd.resolve(s"g$r.names")
        val dir = rd.resolve(s"g$r")
        def mt(p: java.nio.file.Path): Long =
          try Files.getLastModifiedTime(p).toMillis
          catch { case _: java.io.IOException => Long.MaxValue }
        val oldEnough = minAge <= 0L ||
          ((!Files.exists(hist) || mt(hist) <= cutoff) &&
            (!Files.isDirectory(dir) || mt(dir) <= cutoff))
        if (oldEnough) {
          del(hist) // FIRST: the generation fails loudly from here on
          if (Files.isDirectory(dir)) {
            withListing(dir)(_.toSeq).foreach(del)
            Files.deleteIfExists(dir)
          }
        }
      }
    // superseded CAS claim files: only the max carries information
    withListing(Paths.get(path))(_.map(_.getFileName.toString).toSeq)
      .foreach { name =>
        genOf(name, s"$GenerationMarker.").foreach { r =>
          if (r < g) del(Paths.get(path, name))
        }
      }
    // shard-index claims whose shard HAS been published: the claim
    // served its purpose (the live shard now holds the index). Claims
    // with no published shard are kept — see the conflict-contract
    // scaladoc: deleting one could hand a slow writer's index away.
    val idx = """shard-(\d+)""".r
    val names = withListing(Paths.get(path))(
      _.map(_.getFileName.toString).toSeq)
    val published = names.filter(_.endsWith(".graftlog"))
      .flatMap(n => idx.findFirstMatchIn(n).map(_.group(1).toInt)).toSet
    names.filter(_.startsWith(ClaimPrefix)).foreach { c =>
      idx.findFirstMatchIn(c).map(_.group(1).toInt).foreach { i =>
        if (published.contains(i)) del(Paths.get(path, c))
      }
    }
    (files, bytes)
  }

  /** Listing + sidecar parse, shared by planning, stats reporting
    * and aggregate pushdown. Driver-side and O(#shards) — the same
    * cost class as the file listing every lakehouse manifest read
    * pays; at 100 TB this is the manifest, not the data. Completes
    * any pending swap first, so every read observes exactly one
    * generation. */
  def listShards(path: String): Seq[ShardInfo] = {
    val dir = Paths.get(path)
    applySwapIfPresent(path)
    withListing(dir)(_
      .filter(_.toString.endsWith(".graftlog")).toSeq).sortBy(_.toString)
      .map(shard => shardInfoOf(shard.toString))
  }

  /** Atomic sidecar write: stage + rename, so a concurrent reader
    * sees the old body, the new body, or no file — never a torn one
    * (Files.write alone exposed an empty/partial window that a racing
    * listShards parsed as corrupt). */
  private[sources] def writeMetaAtomic(path: String, metaName: String,
      body: String): Unit = {
    val tmp = Paths.get(path, s".$metaName.tmp." +
      java.util.UUID.randomUUID().toString.take(8))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path, metaName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Shard file → ShardInfo (sidecar parse), shared by the live
    * listing and historical-snapshot resolution. A malformed or
    * vanished sidecar (a writer crashed mid-write before the atomic
    * discipline, or the shard was retired mid-listing) degrades to
    * "readable but unprunable", never a reader crash. */
  private def shardInfoOf(file: String): ShardInfo = {
    val meta = Paths.get(file.stripSuffix(".graftlog") + ".meta")
    if (!Files.exists(meta)) ShardInfo(file, None)
    else try {
      val p = new String(Files.readAllBytes(meta),
        StandardCharsets.UTF_8).trim.split('|')
      ShardInfo(file,
        Some((p(0).toLong, p(1).toLong, p(2).toLong)),
        if (p.length > 3) Some(p(3).toLong) else None)
    } catch {
      case _: NumberFormatException | _: ArrayIndexOutOfBoundsException |
           _: java.nio.file.NoSuchFileException => ShardInfo(file, None)
    }
  }

  /** ---- Snapshot versions (r10) ----
    *
    * The append path is naturally versioned: shard names are
    * monotonic with append order ([[nextShardIndex]]), so "the table
    * as of N shards" is a prefix of the name-sorted listing — version
    * metadata at zero storage cost, the same observation the
    * streaming offset (shard count) already exploits. Structural
    * REWRITES (copy-on-write replace, range delete, compaction,
    * INSERT OVERWRITE/TRUNCATE) bump a `_generation` marker and move
    * superseded shards to the RETAINED tier (see the r11 retention
    * block below): a token from an older generation keeps reading its
    * exact rows through the pinned history listing + retired store,
    * until an explicit [[vacuum]] reclaims that generation — after
    * which the token fails LOUDLY ("vacuumed") instead of silently
    * serving rows the snapshot never contained. The Delta/Iceberg
    * time-travel + VACUUM contract, at one marker + one listing file
    * per rewrite. */
  private[sources] val GenerationMarker = "_generation"

  /** Rewrite generation of the table at `path` (0 = never rewritten).
    *
    * Source of truth is the set of CLAIM files `_generation.<n>` —
    * each minted by an atomic create-if-absent ([[bumpGeneration]]'s
    * compare-and-swap), so two concurrent rewrites can never collapse
    * into one bump. The bare `_generation` marker is kept as a
    * one-read cache of the same number; we take the max of both so a
    * writer that crashed between claim and marker refresh still
    * counts (the claim IS the commit point). */
  def generation(path: String): Long = {
    if (!Files.isDirectory(Paths.get(path))) return 0L
    val p = Paths.get(path, GenerationMarker)
    val marker =
      if (Files.exists(p))
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong
      else 0L
    val claimPrefix = GenerationMarker + "."
    val claims = withListing(Paths.get(path))(_
      .map(_.getFileName.toString)
      .filter(n => n.startsWith(claimPrefix) &&
        n.drop(claimPrefix.length).forall(_.isDigit))
      .map(_.drop(claimPrefix.length).toLong).toSeq)
    (marker +: claims).max
  }

  /** Claim EXACTLY generation `g` for the table (compare-and-swap:
    * an atomic `Files.createFile` of `_generation.<g>` — the create
    * fails atomically if already claimed). Returns whether THIS call
    * won the claim. Two distinct callers use it two distinct ways:
    * the swap roll-forward claims the manifest-pinned g0+1, so N
    * threads racing ONE manifest produce ONE bump (already-claimed →
    * no-op, not a retry — a retry would mint phantom generations);
    * [[bumpGeneration]] retries upward, so N concurrent REWRITES
    * produce N distinct bumps. The bare marker refresh after a won
    * claim is a best-effort cache update; [[generation]] folds claims
    * in, so a crash before the refresh loses nothing. */
  private[sources] def claimGeneration(path: String, g: Long): Boolean =
    try {
      Files.createFile(Paths.get(path, s"$GenerationMarker.$g"))
      val tmp = Paths.get(path, s".$GenerationMarker.tmp." +
        java.util.UUID.randomUUID().toString.take(8))
      Files.write(tmp, g.toString.getBytes(StandardCharsets.UTF_8))
      try Files.move(tmp, Paths.get(path, GenerationMarker),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        Files.deleteIfExists(tmp) } // cache refresh lost a race: fine
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    }

  /** Bump to the NEXT free generation, whatever it is — the entry
    * point for a structural rewrite that did not come through a swap
    * manifest. Retries against the refreshed generation on a lost
    * claim, so concurrent rewrites can never collapse into one bump
    * (a token minted between them would be silently "valid" over
    * twice-rewritten shards). */
  private[sources] def bumpGeneration(path: String): Long = {
    var attempts = 0
    while (attempts < 1000) {
      val next = generation(path) + 1
      if (claimGeneration(path, next)) return next
      attempts += 1
    }
    throw new IllegalStateException(
      s"bumpGeneration($path): lost the claim race 1000 times")
  }

  /** ---- Commit wall-clock timestamps (r12): TIMESTAMP AS OF ----
    *
    * Every commit (batch append, swap roll-forward, streaming epoch,
    * the [[write]] helper) drops one empty marker file
    * `_commits/<ts_ms>-<token>` recording "at wall-clock ts_ms the
    * table was at snapshot <token>" — createFile is atomic and
    * duplicate-safe, so racing recorders converge without a log-file
    * append protocol, and the store is O(#commits) metadata (the same
    * cost class as Delta's _delta_log listing). [[timestampAsOf]]
    * resolves the form users actually type ("the table as of
    * yesterday 09:00") to the newest token at-or-before the instant;
    * reads then flow through the exact version machinery —
    * including its loud failure once VACUUM reclaims the needed
    * generation. */
  private[sources] val CommitsDir = "_commits"

  /** Record "the table is NOW at its current version" (idempotent,
    * race-safe). Called after every commit completes; public so a
    * table assembled OUTSIDE the commit paths (a file-level copy, a
    * pre-r12 migration) can be stamped and become TIMESTAMP AS OF
    * addressable from that instant. */
  def recordCommit(path: String): Unit = {
    val tok = currentVersion(path)
    val d = Paths.get(path, CommitsDir)
    Files.createDirectories(d)
    try Files.createFile(d.resolve(
      s"${System.currentTimeMillis()}-$tok"))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  /** Resolve a wall-clock instant to the snapshot token current at
    * that instant: the newest recorded commit at-or-before `tsMs`
    * (ties and same-millisecond commits resolve to the LATEST state:
    * markers sort by (ts, generation, shardCount)). Fails loudly when
    * the instant predates the earliest recorded commit, or when the
    * table has no commit record at all (written by a pre-r12 writer —
    * version tokens still work; wall-clock resolution needs the
    * markers). */
  def timestampAsOf(path: String, tsMs: Long): String = {
    applySwapIfPresent(path)
    val d = Paths.get(path, CommitsDir)
    val marker = """(\d+)-g(\d+)\.(\d+)""".r
    val commits =
      if (!Files.isDirectory(d)) Seq.empty
      else withListing(d)(_.map(_.getFileName.toString).toSeq)
        .collect { case marker(ts, g, n) =>
          (ts.toLong, g.toLong, n.toLong) }
        .sorted
    if (commits.isEmpty)
      throw new IllegalArgumentException(
        s"graftlog table $path records no commit timestamps — " +
          "TIMESTAMP AS OF needs the _commits markers (written by " +
          "every r12+ commit); use a version token instead")
    val at = commits.filter(_._1 <= tsMs)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"timestamp $tsMs predates the earliest recorded commit of " +
          s"$path (${commits.head._1}) — there is no table state to " +
          "read at that instant")
    val (_, g, n) = at.last
    s"g$g.$n"
  }

  /** Snapshot token of the CURRENT table state — pass it back later
    * via `.option("version", token)` to re-read this exact state.
    * The generation is read BEFORE and AFTER the shard listing (which
    * may roll a pending swap forward, bumping the generation) and the
    * pair is only minted when both reads agree — otherwise the token
    * would pair a stale generation with a post-swap shard count and
    * be unreadable on first use. */
  def currentVersion(path: String): String = {
    var attempts = 0
    while (attempts < 1000) {
      val g1 = generation(path)
      val n = listShards(path).size // may complete a pending swap
      val g2 = generation(path)
      if (g1 == g2) return s"g$g2.$n"
      attempts += 1
    }
    throw new IllegalStateException(
      s"currentVersion($path): generation did not stabilize")
  }

  /** The shard list a snapshot token pins: the first `count` shards
    * in name order, valid only within the generation that minted the
    * token. */
  def shardsAt(path: String, version: Option[String]): Seq[ShardInfo] = {
    val all = listShards(path)
    version match {
      case None => all
      case Some(tok) =>
        val m = """g(\d+)\.(\d+)""".r
        tok.trim match {
          case m(g, n) =>
            val cur = generation(path)
            if (g.toLong > cur)
              throw new IllegalArgumentException(
                s"graftlog version $tok of $path names generation $g " +
                  s"but the table is at generation $cur — tokens from " +
                  "the future are malformed")
            if (g.toLong < cur)
              // RETAINED snapshot across rewrites: resolve through the
              // pinned history listing + retired store (fails loudly
              // once VACUUM reclaims it)
              shardsAtHistorical(path, g.toLong, n.toInt)
            else {
              if (n.toInt > all.size)
                throw new IllegalArgumentException(
                  s"graftlog version $tok of $path names ${n.toInt} " +
                    s"shards but only ${all.size} exist")
              all.take(n.toInt)
            }
          case other => throw new IllegalArgumentException(
            s"malformed graftlog version token '$other' " +
              "(expected g<generation>.<shardCount>)")
        }
    }
  }

  /** Incremental read window: the shards BETWEEN two snapshots —
    * everything `since` did not yet contain, up to `asOf` (or the
    * head). Because tokens pin shard PREFIXES, the delta is a shard
    * SLICE: pure manifest arithmetic, no anti-join over data — the
    * change-data-feed read at metadata cost. Both tokens validate
    * against the current generation like [[shardsAt]]. */
  def shardsBetween(path: String, since: Option[String],
      asOf: Option[String]): Seq[ShardInfo] = {
    val upTo = shardsAt(path, asOf)
    since match {
      case None => upTo
      case Some(tok) =>
        // the delta-as-slice identity holds only WITHIN a generation
        // (appends only add shards); across a rewrite the old listing
        // is not a prefix of the new one, so a slice would be wrong —
        // refuse loudly and let the consumer re-baseline
        val genOf = """g(\d+)\.\d+""".r
        def gen(t: String): Long = t.trim match {
          case genOf(g) => g.toLong
          case _ => generation(path) // malformed: shardsAt throws below
        }
        val asOfGen = asOf.map(gen).getOrElse(generation(path))
        require(gen(tok) == asOfGen,
          s"sinceVersion $tok and read end ${asOf.getOrElse("head")} of " +
            s"$path span a structural rewrite (generations ${gen(tok)} vs " +
            s"$asOfGen) — a change-data slice across a rewrite is not " +
            "defined; re-baseline the consumer from a full snapshot")
        val n = shardsAt(path, Some(tok)).size
        require(n <= upTo.size,
          s"sinceVersion $tok is newer than the read end " +
            s"(${asOf.getOrElse("head")}) of $path")
        upTo.drop(n)
    }
  }

  /** ---- Row-level change data feed (r12 brief #2) ----
    *
    * `_change_type` ∈ {insert, delete} between two snapshot tokens,
    * DERIVED LAZILY from the retention machinery instead of written
    * at commit: a snapshot's shard list resolves every shard NAME to
    * the file holding its as-of content (live, or the retired copy —
    * shards are immutable once written, so "same resolved file" ⟺
    * "same content"); the change set between two snapshots is then a
    * pure name-level diff — names only in the old snapshot (or
    * resolving to a different file) contribute their old rows as
    * deletes, names only in the new one (or resolving differently)
    * their new rows as inserts. An UPDATE therefore reads as
    * delete+insert, and a rewritten shard contributes its FULL
    * before/after images — rows present in both cancel under the
    * consumer's net (apply deletes, then inserts), which reconstructs
    * the exact target state: precisely the staged-upsert contract the
    * reference's Redshift loop wants
    * (etl-s3-processed-to-redshift.py:73-82), without snapshot
    * diffing a 100 TB table — the feed opens ONLY the touched shards.
    * Readable until VACUUM reclaims the needed generations (then
    * loud, like any historical read). */
  def changeSet(path: String, since: String,
      end: Option[String]): Seq[(String, String, Option[DvRef])] = {
    // each snapshot resolves shard name → (serving file, governing
    // dv): the dv is part of the snapshot's visible state, so the
    // diff must be over BOTH. Three change shapes fall out:
    //  - file differs (rewrite/drop/add): full before/after images,
    //    each read through ITS snapshot's dv (suppress-mode) — a row
    //    invisible at a snapshot must not appear as its image;
    //  - file same, dv grew (a dv-only delete commit): the newly
    //    suppressed rows are the change — the reader emits ONLY the
    //    dv DELTA (keep-mode, new minus old), as deletes;
    //  - neither: no change.
    def resolved(tok: String): Map[String, (String, Option[String])] = {
      val g = tokenOrd(tok)._1
      val shards = shardsAt(path, Some(tok))
      val dvByName = dvMap(path, shards, g) // one listing per dv dir
      shards.map { si =>
        val name = Paths.get(si.file).getFileName.toString
        name -> (si.file, dvByName.get(name))
      }.toMap
    }
    val a = resolved(since)
    val b = resolved(end.getOrElse(currentVersion(path)))
    val deletes = a.collect {
      case (n, (f, dv)) if !b.get(n).exists(_._1 == f) =>
        (f, "delete", dv.map(DvRef(_, keep = false)))
    }
    val inserts = b.collect {
      case (n, (f, dv)) if !a.get(n).exists(_._1 == f) =>
        (f, "insert", dv.map(DvRef(_, keep = false)))
    }
    val dvDeltas = b.collect {
      case (n, (f, dvB)) if a.get(n).exists(_._1 == f) &&
          a(n)._2 != dvB =>
        // dvs are cumulative while the file lives, so dvB ⊇ dvA and
        // dvB is defined whenever they differ; defend anyway
        val dvA = a(n)._2
        (f, "delete", Some(DvRef(
          dvB.getOrElse(throw new IllegalStateException(
            s"graftlog change feed: dv of $n vanished between $since " +
              s"and ${end.getOrElse("head")} of $path while the shard " +
              "file stayed — cumulative-dv invariant broken")),
          keep = true, minus = dvA)))
    }
    (deletes ++ inserts ++ dvDeltas).toSeq.sortBy(_._1)
  }

  /** The change-feed read schema: the table's columns plus the
    * change-type marker. */
  private[sources] val ChangeTypeField =
    StructField("_change_type", StringType, nullable = false)

  /** Snapshot tokens order by (generation, shardCount) — monotone
    * over commit time: structural commits bump the generation,
    * appends grow the count within one. This is the comparator the
    * streaming change feed's offsets ride on. */
  private[sources] def tokenOrd(tok: String): (Long, Long) = {
    val t = """g(\d+)\.(\d+)""".r
    tok.trim match {
      case t(g, n) => (g.toLong, n.toLong)
      case other => throw new IllegalArgumentException(
        s"malformed graftlog snapshot token '$other' (want g<gen>.<shards>)")
    }
  }

  /** Commit-marker tokens strictly AFTER `since`, in commit order —
    * the admission-control axis of the streaming change feed (a
    * trigger boundary must be a real snapshot token, so batches step
    * through COMMITS, never through a fraction of one). A table whose
    * head commit was never stamped (pre-marker writer) still
    * surfaces: the current version is appended when it is newer than
    * every marker. O(#commits) listing — the _delta_log cost class. */
  def commitTokensAfter(path: String, since: String): Seq[String] = {
    applySwapIfPresent(path)
    val s = tokenOrd(since)
    val d = Paths.get(path, CommitsDir)
    val marker = """\d+-g(\d+)\.(\d+)""".r
    val marked =
      if (!Files.isDirectory(d)) Seq.empty[(Long, Long)]
      else withListing(d)(_.map(_.getFileName.toString).toSeq)
        .collect { case marker(g, n) => (g.toLong, n.toLong) }
    val head = tokenOrd(currentVersion(path))
    (marked :+ head).distinct.sorted
      .filter(t => Ordering[(Long, Long)].gt(t, s))
      .map { case (g, n) => s"g$g.$n" }
  }

  /** ---- Secondary shard indexes (`_index/`) ----
    *
    * Sidecars prune on event_id (the clustering axis); everything
    * else scans. A secondary index adds per-shard pruning on a
    * NON-clustered column without touching the layout: one small
    * `_index/<shard>.<col>.{range|bloom}` file per shard, consulted
    * at plan time for pushed filters on that column.
    *
    *  - `range` — per-shard min/max (as a long: integral columns
    *    directly, timestamps as epoch micros). Prunes range and
    *    equality predicates. Sharp exactly when the column CORRELATES
    *    with the layout (ts over an id-clustered log — the time-
    *    predicate case every event table hits); useless-but-harmless
    *    when it doesn't.
    *  - `bloom` — a per-shard `org.apache.spark.util.sketch
    *    .BloomFilter` over a long or string column. Prunes EQUALITY
    *    probes of ABSENT keys (no false negatives, so a pruned shard
    *    provably lacks the key); present keys scan whatever shards
    *    might hold them. The point-lookup / needle-absent fast path.
    *
    * STALENESS is handled by an echo, not a protocol: each index file
    * records the (event_id min|max|rows|bytes) of the shard it was
    * built from; at read time the index is honored only when the echo
    * matches the LIVE shard's sidecar stats + size. A shard rewritten
    * in place (CoW UPDATE, partial-overlap delete) therefore silently
    * degrades to "readable, unprunable" — never wrong rows — until
    * [[buildIndex]] runs again. Index files of vanished shards are
    * inert for the same reason. Pruning is an I/O optimization only:
    * a filter on an indexed column stays a residual Spark re-applies
    * row-level.
    *
    * Scale shape: building is one distributed pass grouped by the
    * `_shard` metadata column, with index files written FROM THE
    * EXECUTORS (the driver never holds the blooms); consulting is
    * O(#shards) small reads at plan time — the cost class the sidecar
    * listing already pays. */
  private[sources] val IndexDir = "_index"

  sealed trait ShardIndex
  case class RangeIdx(lo: Long, hi: Long) extends ShardIndex
  case class BloomIdx(bloom: org.apache.spark.util.sketch.BloomFilter)
      extends ShardIndex

  /** Echo string binding an index file to the exact shard content it
    * was built from: sidecar stats + file size. */
  private def echoOf(si: ShardInfo): String = si.stats match {
    case Some((mn, mx, n)) => s"$mn|$mx|$n|${si.bytes}"
    case None => ""
  }

  /** Columns with at least one index file — the acceptance set for
    * non-event_id filter pushdown. One directory listing. */
  def indexedColumns(path: String): Set[String] = {
    val d = Paths.get(path, IndexDir)
    if (!Files.isDirectory(d)) return Set.empty
    val name = """.+\.graftlog\.([A-Za-z0-9_]+)\.(range|bloom)""".r
    withListing(d)(_.map(_.getFileName.toString).toSeq)
      .collect { case name(c, _) => c }.toSet
  }

  /** Load and VALIDATE the indexes on `colName` for the given shards:
    * shardFileName → index, containing only entries whose echo
    * matches the live shard. Malformed/missing/stale files simply
    * drop out (the shard stays unprunable). */
  def loadIndexes(path: String, colName: String,
      shards: Seq[ShardInfo]): Map[String, ShardIndex] = {
    val d = Paths.get(path, IndexDir)
    if (!Files.isDirectory(d)) return Map.empty
    shards.flatMap { si =>
      val name = Paths.get(si.file).getFileName.toString
      val want = echoOf(si)
      if (want.isEmpty) None
      else {
        def parse(p: java.nio.file.Path): Option[ShardIndex] =
          if (!Files.isRegularFile(p)) None
          else try {
            val parts = new String(Files.readAllBytes(p),
              StandardCharsets.UTF_8).trim.split("\\|", -1)
            parts(0) match {
              case "range" if parts.length == 7 &&
                  parts.slice(3, 7).mkString("|") == want =>
                Some(RangeIdx(parts(1).toLong, parts(2).toLong))
              case "bloom" if parts.length == 6 &&
                  parts.slice(1, 5).mkString("|") == want =>
                val bytes = java.util.Base64.getDecoder.decode(parts(5))
                Some(BloomIdx(org.apache.spark.util.sketch.BloomFilter
                  .readFrom(new java.io.ByteArrayInputStream(bytes))))
              case _ => None
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        parse(d.resolve(s"$name.$colName.range"))
          .orElse(parse(d.resolve(s"$name.$colName.bloom")))
          .map(name -> _)
      }
    }.toMap
  }

  /** External filter value → the index's long domain. Timestamps
    * compare as epoch micros, dates as epoch DAYS — each matching
    * the format's stored token for its column type, so a probe value
    * and an index body always share a unit (a date column only ever
    * receives date probes). */
  private[sources] def idxLong(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short => Some(s.toLong)
    case d: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateTimeToMicros(d))
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .instantToMicros(i))
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaDate(d).toLong)
    case _ => None
  }

  /** A top-level comparison of event_id against a Long — the filter
    * shapes a plain batch scan answers exactly (sidecar pruning plus
    * the readers' per-line key check), so Spark plans no residual
    * Filter for them. */
  private[sources] def isKeyBound(f: Filter): Boolean = f match {
    case EqualTo("event_id", _: Long) | GreaterThan("event_id", _: Long) |
        GreaterThanOrEqual("event_id", _: Long) |
        LessThan("event_id", _: Long) |
        LessThanOrEqual("event_id", _: Long) => true
    case _ => false
  }

  /** The inclusive event_id interval [lo, hi] the key bounds among
    * `filters` admit; lo > hi is the empty interval. A strict bound
    * past the end of the Long range (`> Long.MaxValue`,
    * `< Long.MinValue`) admits nothing rather than wrapping around. */
  private[sources] def keyBounds(filters: Seq[Filter]): (Long, Long) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var empty = false
    filters.foreach {
      case EqualTo("event_id", v: Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v)
      case GreaterThan("event_id", v: Long) =>
        if (v == Long.MaxValue) empty = true else lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("event_id", v: Long) => lo = math.max(lo, v)
      case LessThan("event_id", v: Long) =>
        if (v == Long.MinValue) empty = true else hi = math.min(hi, v - 1)
      case LessThanOrEqual("event_id", v: Long) => hi = math.min(hi, v)
      case _ => ()
    }
    if (empty) (Long.MaxValue, Long.MinValue) else (lo, hi)
  }

  /** One read's view of a table, each part fetched at most once: the
    * shard listing between two snapshot tokens, the generation the
    * read resolves at (what deletion-vector visibility keys on — a
    * token minted before a dv commit reads the suppressed rows; the
    * head reads without them), and the vectors governing the listed
    * shards (shard name → dv file). A scan builder and the scan it
    * builds share one view, so pushdown acceptance, statistics,
    * partitioning, ordering and partition planning all see the same
    * snapshot, and a key lookup pays one listing instead of one per
    * planning step. */
  private[sources] final class ReadView(path: String,
      since: Option[String], asOf: Option[String]) {
    lazy val shards: Seq[ShardInfo] = shardsBetween(path, since, asOf)
    lazy val gen: Long =
      asOf.map(t => tokenOrd(t)._1).getOrElse(generation(path))
    lazy val dvs: Map[String, String] = dvMap(path, shards, gen)
    def dvOf(s: ShardInfo): Option[String] =
      dvs.get(Paths.get(s.file).getFileName.toString)
  }

  /** The single attribute a comparison filter constrains (the only
    * filter shapes shard pruning understands). */
  private[sources] def filterAttr(f: Filter): Option[String] = f match {
    case EqualTo(c, _) => Some(c)
    case GreaterThan(c, _) => Some(c)
    case GreaterThanOrEqual(c, _) => Some(c)
    case LessThan(c, _) => Some(c)
    case LessThanOrEqual(c, _) => Some(c)
    case _ => None
  }

  /** Does this index PROVE the shard cannot satisfy the filter?
    * Conservative: anything unprovable returns false (shard scans). */
  private[sources] def idxProvesAbsent(idx: ShardIndex,
      f: Filter): Boolean = (idx, f) match {
    case (RangeIdx(lo, hi), EqualTo(_, v)) =>
      idxLong(v).exists(x => x < lo || x > hi)
    case (RangeIdx(lo, hi), GreaterThan(_, v)) =>
      idxLong(v).exists(x => hi <= x)
    case (RangeIdx(lo, hi), GreaterThanOrEqual(_, v)) =>
      idxLong(v).exists(x => hi < x)
    case (RangeIdx(lo, hi), LessThan(_, v)) =>
      idxLong(v).exists(x => lo >= x)
    case (RangeIdx(lo, hi), LessThanOrEqual(_, v)) =>
      idxLong(v).exists(x => lo > x)
    case (BloomIdx(bf), EqualTo(_, v)) => v match {
      case l: java.lang.Long => !bf.mightContainLong(l)
      case i: java.lang.Integer => !bf.mightContainLong(i.toLong)
      case s: String => !bf.mightContainString(s)
      case u: UTF8String => !bf.mightContainString(u.toString)
      case _ => false
    }
    case _ => false
  }

  /** One index file, written atomically (stage + rename) so a racing
    * plan-time read never parses a torn file. Callable from executor
    * tasks — everything it needs arrives as arguments. */
  private[sources] def writeIndexFile(path: String, shardName: String,
      colName: String, kind: String, body: String): Unit = {
    val d = Paths.get(path, IndexDir)
    Files.createDirectories(d)
    val tmp = d.resolve(s".$shardName.$colName.$kind.tmp." +
      java.util.UUID.randomUUID().toString.take(8))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, d.resolve(s"$shardName.$colName.$kind"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete every index file of `colName` — schema DDL must call
    * this: a RENAMEd/DROPped column's files are keyed by the old
    * name, and because index echoes bind to SHARD content (unchanged
    * by metadata-only DDL) a column RE-ADDED under the same name
    * would resolve the stale files and prune by the OLD values —
    * silently wrong rows. Widening drops them too (the long-typed
    * entries never match double probes — dead weight). */
  /** Is `name` an index file of exactly column `col`? A bare
    * endsWith(".$col.$kind") would also capture columns whose name
    * merely ENDS with `col` (renaming/dropping `w` must not touch
    * `kw`'s files) — the shard stem always ends in `.graftlog`, so
    * requiring that pins the column segment exactly. */
  private def isIndexOf(name: String, col: String,
      kind: String): Boolean = {
    val suf = s".$col.$kind"
    name.endsWith(suf) &&
      name.stripSuffix(suf).endsWith(".graftlog")
  }

  private[sources] def dropIndexFiles(path: String, col: String): Unit = {
    val d = Paths.get(path, IndexDir)
    if (!Files.isDirectory(d)) return
    withListing(d)(_.filter { p =>
        val n = p.getFileName.toString
        isIndexOf(n, col, "range") || isIndexOf(n, col, "bloom")
      }.toSeq)
      .foreach(Files.deleteIfExists(_))
  }

  /** Carry every index file of a RENAMEd column to its new name —
    * the heal that makes rename cost NO index rebuild at all: the
    * echo binds each file to shard CONTENT (untouched by a
    * metadata-only DDL) and the indexed VALUES are the column's own
    * (unchanged by a rename), so the file under the new name is
    * exactly the index a fresh build would produce. Each move is an
    * atomic rename; a reader racing the loop sees some files under
    * the old name (no longer consulted → that shard is unprunable,
    * never wrong) and the rest already healed. DROP and widen have
    * no such heal — their values/types genuinely change — so they
    * keep [[dropIndexFiles]]. */
  /** Remove index files whose COLUMN no longer exists (base or
    * live evolved): per-epoch maintenance racing a DDL can re-write
    * a just-carried/just-dropped column's files after the DDL's
    * cleanup ran — the stale files are inert for pruning (the
    * column is gone from every plan) but would sit forever and keep
    * `indexKinds` feeding the sink a column that now throws. Vacuum
    * — the reclaim op — is where they die. */
  private def sweepOrphanIndexFiles(path: String): Long = {
    val d = Paths.get(path, IndexDir)
    if (!Files.isDirectory(d)) return 0L
    val name = """.+\.graftlog\.([A-Za-z0-9_]+)\.(range|bloom)""".r
    def liveCols: Set[String] = schema.fieldNames.toSet ++
      bucketedSchema.fieldNames ++ extSchema(path).map(_.name)
    val live = liveCols
    var removed = 0L
    val candidates = withListing(d)(_.flatMap { p =>
      p.getFileName.toString match {
        case name(c, _) if !live.contains(c) => Some((p, c))
        case _ => None
      }
    }.toSeq)
    if (candidates.isEmpty) return 0L
    // the sweep takes no lock, so an ADD COLUMN + buildIndex landing
    // between the live-set snapshot above and the deletes below could
    // lose its freshly built files (correct-but-unpruned, never wrong
    // rows — but silently slower). Re-reading the schema HERE shrinks
    // that window from "the whole listing" to a few syscalls: a
    // column re-added during the listing is spared.
    val live2 = liveCols
    candidates.foreach { case (p, c) =>
      if (!live2.contains(c) && Files.deleteIfExists(p)) removed += 1
    }
    removed
  }

  private[sources] def renameIndexFiles(path: String, from: String,
      to: String): Unit = {
    val d = Paths.get(path, IndexDir)
    if (!Files.isDirectory(d)) return
    Seq("range", "bloom").foreach { kind =>
      val suf = s".$from.$kind"
      withListing(d)(_.filter(p =>
          isIndexOf(p.getFileName.toString, from, kind)).toSeq)
        .foreach { p =>
          val stem = p.getFileName.toString.stripSuffix(suf)
          // a concurrent vacuum's orphan sweep (which takes no lock)
          // may delete an old-name file between our listing and this
          // move — after the schema rename committed, the old column
          // is no longer "live" to the sweep. Losing the file is an
          // acceptable outcome (that shard's index just rebuilds on
          // the next incremental pass); failing the RENAME here would
          // be spurious — the DDL itself already committed.
          try Files.move(p, d.resolve(s"$stem.$to.$kind"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          catch { case _: java.nio.file.NoSuchFileException => () }
        }
    }
  }

  /** Build (or rebuild) the secondary index on `colName`. One
    * distributed pass over the pinned snapshot grouped by `_shard`;
    * per-shard results land as `_index` files written from the
    * executors. Returns the number of shards indexed. */
  def buildIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      colName: String, kind: String, fpp: Double = 0.01): Int = {
    require(kind == "range" || kind == "bloom",
      s"index kind must be range|bloom, got $kind")
    require(colName != "event_id",
      "event_id is the clustering axis — the sidecars already prune it")
    val tok = currentVersion(path)
    val shards = shardsAt(path, Some(tok))
    if (shards.isEmpty) return 0
    val echo: Map[String, String] = shards.map(si =>
      Paths.get(si.file).getFileName.toString -> echoOf(si)).toMap
    val df = spark.read.format("graft.sources.GraftLogSource")
      .option("version", tok).load(path)
      .select(org.apache.spark.sql.functions.col("_shard"),
        org.apache.spark.sql.functions.col(colName))
    val dt = df.schema.fields(1).dataType
    kind match {
      case "range" =>
        require(dt == LongType || dt == IntegerType ||
            dt == TimestampType || dt == TimestampNTZType ||
            dt == DateType,
          s"range index needs an integral, timestamp or date " +
            s"column, $colName is ${dt.sql}")
        // metadata-scale result (#shards rows): driver write is fine
        val rows = df.groupBy("_shard")
          .agg(org.apache.spark.sql.functions.min(colName).as("lo"),
            org.apache.spark.sql.functions.max(colName).as("hi"))
          .collect()
        rows.foreach { r =>
          val name = r.getString(0)
          for {
            lo <- idxLong(r.get(1)); hi <- idxLong(r.get(2))
            e <- echo.get(name) if e.nonEmpty
          } writeIndexFile(path, name, colName, "range",
            s"range|$lo|$hi|$e")
        }
        rows.length
      case "bloom" =>
        require(dt == LongType || dt == IntegerType || dt == StringType,
          s"bloom index needs a long or string column, $colName is ${dt.sql}")
        val expected = math.max(1L, shards.flatMap(_.stats).map(_._3)
          .foldLeft(0L)(math.max))
        val p = path // serializable copies for the task closure
        val c = colName
        val ech = echo
        import org.apache.spark.sql.{Encoder, Encoders}
        import org.apache.spark.sql.expressions.Aggregator
        import org.apache.spark.util.sketch.BloomFilter
        def bloomAgg[T](put: (BloomFilter, T) => Unit) =
          new Aggregator[T, BloomFilter, Array[Byte]] {
            override def zero: BloomFilter =
              BloomFilter.create(expected, fpp)
            override def reduce(b: BloomFilter, a: T): BloomFilter = {
              put(b, a); b
            }
            override def merge(x: BloomFilter, y: BloomFilter)
                : BloomFilter = { x.mergeInPlace(y); x }
            override def finish(b: BloomFilter): Array[Byte] = {
              val o = new java.io.ByteArrayOutputStream()
              b.writeTo(o); o.toByteArray
            }
            override def bufferEncoder: Encoder[BloomFilter] =
              Encoders.javaSerialization[BloomFilter]
            override def outputEncoder: Encoder[Array[Byte]] =
              Encoders.BINARY
          }
        // blooms never index NULL (IS NULL is not an equality probe)
        val in = df.na.drop(Seq(colName))
        val perShard: org.apache.spark.sql.Dataset[(String, Array[Byte])] =
          dt match {
            case StringType =>
              in.map(r => (r.getString(0), r.getString(1)))(
                  Encoders.tuple(Encoders.STRING, Encoders.STRING))
                .groupByKey(_._1)(Encoders.STRING)
                .mapValues(_._2)(Encoders.STRING)
                .agg(bloomAgg[String]((b, v) => b.putString(v)).toColumn)
            case _ =>
              in.map(r => (r.getString(0),
                  r.getAs[Number](1).longValue()))(
                  Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
                .groupByKey(_._1)(Encoders.STRING)
                .mapValues(_._2)(Encoders.scalaLong)
                .agg(bloomAgg[Long]((b, v) => b.putLong(v)).toColumn)
          }
        perShard.map { case (name, bytes) =>
            ech.get(name).filter(_.nonEmpty).foreach { e =>
              writeIndexFile(p, name, c, "bloom",
                s"bloom|$e|${java.util.Base64.getEncoder.encodeToString(bytes)}")
            }
            1
          }(Encoders.scalaInt)
          .reduce(_ + _)
    }
  }

  /** Distinct (column, kind) pairs with at least one index file — the
    * maintenance set for [[buildIndexIncremental]]. One listing. */
  def indexKinds(path: String): Seq[(String, String)] = {
    val d = Paths.get(path, IndexDir)
    if (!Files.isDirectory(d)) return Nil
    val name = """.+\.graftlog\.([A-Za-z0-9_]+)\.(range|bloom)""".r
    withListing(d)(_.map(_.getFileName.toString).toSeq)
      .collect { case name(c, k) => (c, k) }.distinct.sorted
  }

  /** Is the index file current for this echo? Same echo slice
    * [[loadIndexes]] validates at consult time — but read as a
    * 512-byte HEADER, not the whole file: the staleness scan runs
    * over EVERY shard per maintenance pass (the streaming sink calls
    * it each epoch), and a bloom payload is multi-KB base64 the echo
    * check never needs. A corrupt payload past the header still
    * degrades safely: loadIndexes fully re-validates at consult. */
  private def indexCurrent(f: java.nio.file.Path, kind: String,
      want: String): Boolean =
    Files.isRegularFile(f) && {
      try {
        val ch = Files.newByteChannel(f)
        val buf = java.nio.ByteBuffer.allocate(512)
        try ch.read(buf) finally ch.close()
        val head = new String(buf.array(), 0, buf.position(),
          StandardCharsets.UTF_8)
        kind match {
          case "range" => // tiny file: the header IS the whole line
            val parts = head.trim.split("\\|", -1)
            parts(0) == "range" && parts.length == 7 &&
              parts.slice(3, 7).mkString("|") == want
          case _ =>
            val parts = head.split("\\|", -1)
            parts(0) == "bloom" && parts.length >= 6 &&
              parts.slice(1, 5).mkString("|") == want
        }
      } catch { case scala.util.control.NonFatal(_) => false }
    }

  /** Incremental sibling of [[buildIndex]]: (re)index ONLY the shards
    * whose (colName, kind) index file is missing or echo-stale —
    * fresh appends since the last build, plus shards whose content a
    * rewrite changed. Cost is O(stale shard bytes) — one executor
    * task per stale shard parses its lines directly (dv-suppressed
    * rows are included: a superset index is conservative, pruning
    * only ever PROVES absence) — so a steady-append table keeps its
    * pruning payoff at the price of indexing each new shard once,
    * never the full-snapshot pass [[buildIndex]] costs. The streaming
    * sink invokes this per epoch commit for every existing index
    * (`spark.graft.index.maintainOnCommit`, default on). Returns the
    * number of shards (re)indexed; 0 = already current. */
  def buildIndexIncremental(spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String, kind: String,
      fpp: Double = 0.01): Int = {
    require(kind == "range" || kind == "bloom",
      s"index kind must be range|bloom, got $kind")
    require(colName != "event_id",
      "event_id is the clustering axis — the sidecars already prune it")
    val shards = listShards(path)
    if (shards.isEmpty) return 0
    // column → (line position, isString, exists-default token): the
    // executor tasks parse lines directly, so resolution happens once
    // on the driver against the same schema the reader uses
    val ext = extCols(path)
    val (pos, isString, default) = colName match {
      case "ts" => (1, false, null: String) // stored as epoch micros
      case "user_id" => (2, false, null: String)
      case "event_type" => (3, true, null: String)
      case other =>
        val col = ext.find(_.field.name == other).getOrElse(
          throw new IllegalArgumentException(
            s"column $other does not exist on graftlog table $path " +
              "(or is not indexable)"))
        val str = col.field.dataType match {
          // micros / epoch-day tokens are both long-parsable
          case LongType | TimestampType | TimestampNTZType
               | DateType => false
          case StringType => true
          case dt => throw new IllegalArgumentException(
            s"index on $other: unsupported type ${dt.sql}")
        }
        (col.pos, str, col.default.orNull)
    }
    require(kind == "bloom" || !isString,
      s"range index needs an integral or timestamp column, $colName " +
        "is a string")
    val d = Paths.get(path, IndexDir)
    val stale = shards.filter { si =>
      val name = Paths.get(si.file).getFileName.toString
      val want = echoOf(si)
      want.nonEmpty &&
        !indexCurrent(d.resolve(s"$name.$colName.$kind"), kind, want)
    }
    if (stale.isEmpty) return 0
    val work = stale.map(si => (si.file, echoOf(si),
      si.stats.map(_._3).getOrElse(1L))).toSeq
    val (p, c, k, fp) = (path, colName, kind, fpp)
    val (ps, str, dflt) = (pos, isString, default)
    spark.sparkContext.parallelize(work, work.size)
      .map { case (file, e, rows) =>
        val name = Paths.get(file).getFileName.toString
        // null-skipping token stream: short line → exists default,
        // explicit NullToken → null (blooms never index NULL; a
        // range over none writes nothing — the shard stays
        // unprunable, same as the full build)
        val tokens = readShardLines(file).iterator
          .filter(_.nonEmpty).map { line =>
            val parts = line.split("\\|", -1)
            if (ps >= parts.length) dflt
            else if (ps >= 5 && parts(ps) == NullToken) null
            else parts(ps)
          }.filter(_ != null)
        if (k == "range") {
          var lo = Long.MaxValue
          var hi = Long.MinValue
          var any = false
          tokens.foreach { t =>
            val v = t.toLong
            if (v < lo) lo = v
            if (v > hi) hi = v
            any = true
          }
          if (any) {
            writeIndexFile(p, name, c, "range", s"range|$lo|$hi|$e")
            1
          } else 0
        } else {
          val bf = org.apache.spark.util.sketch.BloomFilter
            .create(math.max(1L, rows), fp)
          var any = false
          tokens.foreach { t =>
            if (str) bf.putString(t) else bf.putLong(t.toLong)
            any = true
          }
          if (any) {
            val o = new java.io.ByteArrayOutputStream()
            bf.writeTo(o)
            writeIndexFile(p, name, c, "bloom", s"bloom|$e|" +
              java.util.Base64.getEncoder.encodeToString(o.toByteArray))
            1
          } else 0
        }
      }.sum().toInt
  }

  /** ---- CHECK constraints (write-time data contracts) ----
    *
    * `ALTER TABLE ADD CONSTRAINT` for the format (Delta's CHECK
    * constraint semantics): named SQL predicates stored in
    * `_constraints` (one `name|sql` line, atomic rename on change)
    * and enforced AT WRITE TIME in every path that lands rows —
    * batch append, INSERT OVERWRITE, streaming epochs, and the
    * copy-on-write UPDATE/MERGE rewrite (an update that breaks the
    * contract must fail exactly like an insert). A violating row
    * fails its task loudly, the job aborts, and the staged tmps are
    * cleaned — NO partial commit, because visibility is the task
    * rename / swap manifest, which a failed job never reaches.
    *
    * Adding a constraint validates the EXISTING data first (one scan;
    * a constraint the table already violates is rejected — Delta's
    * rule), so "constraint present" always means "every committed row
    * satisfies it". SQL-standard CHECK tri-state: NULL evaluates as
    * pass (only FALSE violates). Compilation happens once per write
    * job on the driver (parse → analyze against the write schema, so
    * type coercion is the engine's own → bind); executors evaluate a
    * compiled predicate per row — the enforcement cost is one codegen
    * predicate call in the writer's hot loop, zero extra passes. */
  private[sources] val ConstraintsFile = "_constraints"

  /** Declared constraints of a table, in declaration order. */
  def constraints(path: String): Seq[(String, String)] = {
    val f = Paths.get(path, ConstraintsFile)
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val i = line.indexOf('|') // the sql may itself contain '|'
        (line.substring(0, i), line.substring(i + 1))
      }
  }

  private def writeConstraints(path: String,
      cs: Seq[(String, String)]): Unit = {
    val tmp = Paths.get(path, s".$ConstraintsFile.tmp")
    Files.write(tmp, cs.map { case (n, s) => s"$n|$s" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path, ConstraintsFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Declare a CHECK constraint. Validates the existing rows first
    * (one distributed scan) and refuses if any violates — after this
    * returns, every committed row of the table satisfies the
    * predicate, and every future write is gated on it. */
  def addConstraint(spark: org.apache.spark.sql.SparkSession,
      path: String, name: String, sql: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    require(!constraints(path).exists(_._1 == name),
      s"constraint $name already exists on graftlog table $path")
    // compile against the write schema NOW: an unparseable or
    // unresolvable predicate must fail at declaration, not at the
    // next write
    compileConstraints(spark,
      Seq((name, sql)), StructType(schema.fields ++ extSchema(path)))
    if (listShards(path).nonEmpty) {
      val bad = spark.read.format("graft.sources.GraftLogSource")
        .load(path)
        .filter(s"NOT (($sql) <=> TRUE) AND ($sql) IS NOT NULL")
        .limit(1).count()
      require(bad == 0L,
        s"cannot add CHECK constraint $name: existing rows of $path " +
          s"violate ($sql)")
    }
    // the RMW of _constraints takes the same locks as every schema
    // DDL (two concurrent declarations must not lose one); the
    // validation SCAN stays outside — holding the table's structural
    // flock across a distributed job would block every committer
    lockFor(path).synchronized { withFsLock(path) {
      require(!constraints(path).exists(_._1 == name),
        s"constraint $name already exists on graftlog table $path")
      writeConstraints(path, constraints(path) :+ (name, sql))
    } }
  }

  /** Drop a constraint; returns whether it existed. Locked like
    * every schema DDL — a concurrent add must survive the drop. */
  def dropConstraint(path: String, name: String): Boolean =
    lockFor(path).synchronized { withFsLock(path) {
      val cs = constraints(path)
      val kept = cs.filterNot(_._1 == name)
      if (kept.size != cs.size) { writeConstraints(path, kept); true }
      else false
    } }

  /** Parse + analyze + bind the table's constraints against the
    * write schema — driver-side, once per write job. The analyzer
    * pass gives the engine's own type coercion; the NULL-passes
    * wrapper implements SQL CHECK tri-state. Returns
    * (name, sql, bound expression) — expressions serialize to the
    * executors, where each writer compiles its predicate once. */
  private[sources] def compileConstraints(
      spark: org.apache.spark.sql.SparkSession,
      cs: Seq[(String, String)],
      writeSchema: StructType):
      Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    if (cs.isEmpty) return Nil
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Coalesce, Literal}
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(writeSchema)
    cs.map { case (name, sql) =>
      val plan = LFilter(CatalystSqlParser.parseExpression(sql),
        LocalRelation(attrs))
      val analyzed =
        try spark.sessionState.analyzer.execute(plan)
        catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"CHECK constraint $name does not resolve against " +
              s"${writeSchema.simpleString}: ($sql)", e)
        }
      // RuntimeReplaceable forms (BETWEEN, nullif, …) only get their
      // evaluable replacement in the OPTIMIZER, and the replacement
      // may use With/CommonExpression nodes that need their own
      // rewrite — run exactly those two rules
      val f = org.apache.spark.sql.catalyst.optimizer
        .RewriteWithExpression(org.apache.spark.sql.catalyst.optimizer
          .ReplaceExpressions(analyzed))
        .collectFirst { case lf: LFilter => lf }
        .getOrElse(throw new IllegalStateException(
          s"constraint $name analyzed to a non-Filter plan"))
      require(f.condition.resolved,
        s"CHECK constraint $name does not resolve against " +
          s"${writeSchema.simpleString}: ($sql)")
      val nullPasses = Coalesce(Seq(f.condition, Literal.TrueLiteral))
      (name, sql, BindReferences.bindReference(nullPasses, f.child.output))
    }
  }

  /** A compiled constraint as shipped to writers: (name, sql, bound
    * expression). */
  private[sources] type Constraint =
    (String, String, org.apache.spark.sql.catalyst.expressions.Expression)

  /** The constraints a write job must enforce, compiled against its
    * write schema (bucketed rows carry ub at position 5; unbucketed
    * rows carry the evolved columns there). Driver-side, once per
    * job. */
  /** Compile the declared constraints against the LIVE write schema
    * (base + live evolved columns — bound ordinals are ROW ordinals,
    * which carry only live columns regardless of tombstoned slots). */
  private[sources] def writeConstraintsFor(path: String,
      bucketed: Boolean): Seq[Constraint] = {
    val cs = constraints(path)
    if (cs.isEmpty) return Nil
    val ws =
      if (bucketed) bucketedSchema
      else StructType(schema.fields ++ extSchema(path))
    compileConstraints(org.apache.spark.sql.SparkSession.active, cs, ws)
  }

  /** ---- Deletion vectors (merge-on-read point deletes) ----
    *
    * A copy-on-write delete of k scattered keys rewrites every
    * touched shard — at 100 TB that is k multi-GB rewrites to remove
    * k rows. A DELETION VECTOR instead records the suppressed keys in
    * a tiny per-shard sidecar (`_dv/<shard>.g<G>.dv`) and lets every
    * reader subtract them at scan time: the delete is O(#touched
    * shards) small METADATA writes with zero data I/O, and the
    * physical purge is deferred to the next compaction (which reads
    * through the DV-aware scan and so drops the rows for free) — the
    * Delta/Iceberg merge-on-read trade, on this format.
    *
    * File format: first line = the ECHO (`min|max|rows|bytes`) of the
    * exact shard content the vector binds to (the `_index/` staleness
    * contract), then one suppressed event_id per line, sorted. Files
    * are CUMULATIVE per shard: a second delete writes the union at a
    * new generation, so a reader needs exactly ONE dv file.
    *
    * Versioning rides the generation machinery: a DV commit stages
    * its files hidden, then lands them through the swap manifest
    * (entry type `dv`) — history pinned, generation bumped, commit
    * marker recorded, all-or-nothing. Resolution for a read at
    * generation g: the latest dv of the shard with dvGen ≤ g whose
    * echo matches the serving file. A snapshot token minted BEFORE
    * the delete therefore still reads the suppressed rows (its
    * resolved generation precedes the dv's), and a crash before the
    * manifest lands leaves the staged dvs invisible — never a torn
    * delete.
    *
    * Lifecycle invariant: live `_dv/` entries always describe LIVE
    * shard files — [[retire]] moves a shard's dv files into the same
    * `_retired/g<r>/` store as the shard copy they describe (where
    * historical resolution finds both, and VACUUM reclaims both).
    * This is what makes the echo binding airtight: a later shard
    * reusing a retired name (truncate → re-ingest) can never meet a
    * leftover vector, even if its content is byte-identical.
    *
    * Correctness couplings (each enforced in code, pinned by
    * DeletionVectorSpec):
    *  - sidecar-served aggregates, LIMIT and top-n shard selection
    *    all price shards by PHYSICAL row counts — every pushdown that
    *    consumes counts self-disables while the read's exact shard
    *    set carries a vector (the ScanBuilder's echo-validated
    *    `dvFree` / [[dvMap]] check at acceptance, over the same
    *    [[ReadView]] the scan then plans from);
    *  - range DELETE's partial-shard rewrite applies the shard's
    *    valid dv to the kept lines (a rewrite must not resurrect
    *    suppressed rows);
    *  - the change feed resolves each snapshot's dv state: a dv-only
    *    commit emits its newly-suppressed rows as `delete` changes
    *    (the dv DELTA — [[DvRef]] keep-mode), and full before/after
    *    shard images read through their snapshot's dv. */
  private[sources] val DvDir = "_dv"

  /** How a reader applies a dv file to a shard: `keep = false`
    * suppresses the listed keys (the scan path); `keep = true` emits
    * ONLY the listed keys minus those also in `minus` (the change
    * feed's dv-delta path). */
  case class DvRef(file: String, keep: Boolean,
      minus: Option[String] = None) extends Serializable

  /** Resolve a shard (or dv sidecar) path for reading, falling back
    * to its RETIRED copy when a concurrent structural rewrite moved
    * it between plan and task open: retired files are MOVED, never
    * deleted (until VACUUM), and names are never reused, so the
    * retired copy is bit-identical to what the plan targeted — scans
    * stay snapshot-stable under structural writers without any read
    * lock. A truly vacuumed file resolves to the original path and
    * the open fails loudly. */
  private[sources] def withRetiredFallback(file: String)
      : java.nio.file.Path = {
    val p = Paths.get(file)
    if (Files.exists(p)) return p
    val parent = p.getParent
    // live shards sit in the table root; dv sidecars in <table>/_dv
    val table =
      if (parent != null && parent.getFileName != null &&
          parent.getFileName.toString == DvDir) parent.getParent
      else parent
    if (table == null) return p
    val rd = table.resolve(RetiredDir)
    val name = p.getFileName.toString
    if (!Files.isDirectory(rd)) return p
    withListing(rd)(_.filter(Files.isDirectory(_))
      .map(_.resolve(name)).find(Files.exists(_))).getOrElse(p)
  }

  /** Apply `f` to a shard (or dv sidecar) at its live path, falling
    * back to the retired store AND retrying: resolve→open is not
    * atomic, so a structural commit can move the file in the window —
    * the retry re-resolves against the completed move. A live file
    * costs one call (scan planning sizes every shard); a truly
    * vacuumed file still fails loudly on the last attempt. */
  private[sources] def throughRetired[A](file: String)(
      f: java.nio.file.Path => A): A = {
    def go(attempt: Int): A =
      try f(if (attempt == 0) Paths.get(file) else withRetiredFallback(file))
      catch { case _: java.nio.file.NoSuchFileException if attempt < 2 =>
        go(attempt + 1) }
    go(0)
  }

  /** A shard's lines, opened [[throughRetired]]. */
  private[sources] def openShardLines(file: String)
      : java.util.stream.Stream[String] = throughRetired(file)(Files.lines)

  /** [[openShardLines]]' fully-materialized sibling for the
    * maintenance tasks (optimize bins, dense-merge rewrites,
    * incremental index builds) — they read whole bounded shards and
    * must survive a racing rewrite the same way; their COMMIT then
    * revalidates the generation and retries, so reading the retired
    * (= listed-snapshot) content is exactly right. */
  private[sources] def readShardLines(file: String): Seq[String] =
    throughRetired(file)(Files.readAllLines(_, StandardCharsets.UTF_8))
      .asScala.toSeq

  /** Suppressed keys of a dv file (sorted; the echo line skipped).
    * Executor-side: a dv is a few KB, read once per task; reads
    * through the retired store if a rewrite raced the scan. */
  def dvKeys(file: String): Array[Long] = {
    val lines = Files.readAllLines(withRetiredFallback(file),
      StandardCharsets.UTF_8)
    val out = new Array[Long](math.max(0, lines.size - 1))
    var i = 1
    while (i < lines.size) {
      out(i - 1) = lines.get(i).trim.toLong
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  private val DvName = """(.+\.graftlog)\.g(\d+)\.dv""".r

  /** The dv file governing `name` as served by `si.file` at
    * generation `gen`: latest dvGen ≤ gen among the candidates
    * CO-LOCATED with the serving file (live `_dv/` for a live shard,
    * the retired store's dir for a retired copy), echo-validated
    * against the serving content. */
  def dvFileFor(path: String, name: String, si: ShardInfo,
      gen: Long): Option[String] = {
    val servingDir = Paths.get(si.file).getParent
    val live = Paths.get(path).toAbsolutePath.normalize ==
      servingDir.toAbsolutePath.normalize
    val d = if (live) Paths.get(path, DvDir) else servingDir
    if (!Files.isDirectory(d)) return None
    val cands = withListing(d)(_.map(_.getFileName.toString).toSeq)
      .collect { case DvName(n, g) if n == name && g.toLong <= gen =>
        (g.toLong, n) }
    val want = echoOf(si)
    if (want.isEmpty) {
      if (cands.nonEmpty) throw sidecarLost(path, name)
      return None
    }
    cands.sortBy(-_._1).view.map { case (g, n) =>
      d.resolve(s"$n.g$g.dv")
    }.find { f =>
      try {
        val first = Files.lines(f)
        val echo = try first.findFirst().orElse("") finally first.close()
        echo == want
      } catch { case scala.util.control.NonFatal(_) => false }
    }.map(_.toString)
  }

  /** A vector binds to its shard through the sidecar echo, so a shard
    * that lost its sidecar cannot tell a live vector from a stale one.
    * Serving it anyway would bring its deleted rows back: fail the
    * read instead, naming the shard. */
  private def sidecarLost(path: String, name: String) =
    new IllegalStateException(
      s"graftlog shard $name of $path has a deletion vector but no " +
        "sidecar, so its deleted rows would reappear; run " +
        "CALL glog.analyze(table) to rebuild the sidecar")

  /** Resolve the dv for every shard of a planned read — ONE listing
    * per distinct serving directory (live root, or a retired store
    * for historical reads), not one per shard: O(#shards + #dv
    * files) total, the sidecar cost class at any table size. */
  def dvMap(path: String, shards: Seq[ShardInfo],
      gen: Long): Map[String, String] = {
    val tableRoot = Paths.get(path).toAbsolutePath.normalize
    // candidates per (serving dir): shardName -> [(dvGen, fileName)]
    val byDir = scala.collection.mutable.Map
      .empty[java.nio.file.Path, Map[String, Seq[(Long, String)]]]
    def candidates(servingDir: java.nio.file.Path)
        : Map[String, Seq[(Long, String)]] =
      byDir.getOrElseUpdate(servingDir, {
        val d =
          if (servingDir.toAbsolutePath.normalize == tableRoot)
            Paths.get(path, DvDir)
          else servingDir
        if (!Files.isDirectory(d)) Map.empty
        else withListing(d)(_.map(_.getFileName.toString).toSeq)
          .collect { case n @ DvName(shard, g) => (shard, g.toLong, n) }
          .groupBy(_._1)
          .view.mapValues(_.map(t => (t._2, t._3))).toMap
      })
    shards.flatMap { si =>
      val name = Paths.get(si.file).getFileName.toString
      val servingDir = Paths.get(si.file).getParent
      val d =
        if (servingDir.toAbsolutePath.normalize == tableRoot)
          Paths.get(path, DvDir)
        else servingDir
      val cands = candidates(servingDir).getOrElse(name, Nil)
        .filter(_._1 <= gen)
      val want = echoOf(si)
      if (want.isEmpty) {
        if (cands.nonEmpty) throw sidecarLost(path, name)
        None
      } else cands.sortBy(-_._1).view
        .map { case (_, f) => d.resolve(f) }
        .find { f =>
          try {
            val first = Files.lines(f)
            val echo =
              try first.findFirst().orElse("") finally first.close()
            echo == want
          } catch { case scala.util.control.NonFatal(_) => false }
        }.map(f => name -> f.toString)
    }.toMap
  }

  /** Rows a delete suppressed (observability twin of
    * [[shardsRewritten]]): dv files written by [[deleteVectors]]. */
  val dvFilesWritten = new AtomicLong(0)

  /** Executor-side row visibility by key: the scan's exact event_id
    * interval [lo, hi] (the key bounds it consumed from Spark) and
    * its shard's [[DvRef]] — suppress-mode hides the listed keys;
    * keep-mode shows ONLY `file`'s keys minus `minus`'s (the change
    * feed's dv delta). Keys load once per task (a dv is a few KB);
    * probes are binary searches. The key is the line's first field,
    * so `admits` needs no full parse and works whether or not
    * event_id survives column pruning; an out-of-range line is
    * skipped, never taken as the end of a shard, so results do not
    * lean on the within-shard sort contract. */
  private[sources] final class KeyFilter(ref: Option[DvRef],
      lo: Long = Long.MinValue, hi: Long = Long.MaxValue)
      extends Serializable {
    private val (only, drop): (Array[Long], Array[Long]) = ref match {
      case None => (null, null)
      case Some(DvRef(f, false, _)) => (null, dvKeys(f))
      case Some(DvRef(f, true, minus)) =>
        val m = minus.map(dvKeys).getOrElse(Array.empty[Long])
        (dvKeys(f).filter(k =>
          java.util.Arrays.binarySearch(m, k) < 0), null)
    }
    private val bounded = lo != Long.MinValue || hi != Long.MaxValue
    val active: Boolean = only != null || drop != null || bounded
    def visible(id: Long): Boolean =
      id >= lo && id <= hi &&
        (drop == null || java.util.Arrays.binarySearch(drop, id) < 0) &&
        (only == null || java.util.Arrays.binarySearch(only, id) >= 0)
    /** `visible` on a non-empty line's key prefix. */
    def admits(line: String): Boolean =
      !active || visible(line.substring(0, line.indexOf('|')).toLong)
  }

  /** Stage cumulative dv tmps for every live shard whose sidecar
    * range intersects `ks` (sorted), targeting generation g0+1 —
    * shared by [[deleteVectors]] and [[mergeRows]]; caller commits
    * via [[commitSwap]]'s dv entries. Membership is not probed:
    * suppressing a key a shard never held is a no-op, so binding the
    * range-overlap superset keeps the op purely manifest-priced. */
  private def stageDvs(path: String, ks: Array[Long],
      g0: Long): Seq[(String, String)] = {
    val dvs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val shards = listShards(path)
    val priorByName = dvMap(path, shards, g0) // one _dv listing
    shards.foreach { si =>
      val name = Paths.get(si.file).getFileName.toString
      val hit: Array[Long] = si.stats match {
        case Some((mn, mx, _)) =>
          val from = {
            val i = java.util.Arrays.binarySearch(ks, mn)
            if (i >= 0) i else -i - 1
          }
          val until = {
            val i = java.util.Arrays.binarySearch(ks, mx)
            if (i >= 0) i + 1 else -i - 1
          }
          java.util.Arrays.copyOfRange(ks, from, until)
        case None =>
          // a vector binds to shard content via the stats echo; a
          // sidecar-less shard can't carry one — writing a blank
          // echo would silently never apply (wrong rows). Refuse
          // loudly; CALL glog.analyze rebuilds the sidecar.
          throw new IllegalStateException(
            s"graftlog shard $name of $path has no sidecar — a " +
              "deletion vector cannot bind to it; run " +
              "CALL glog.analyze(table) first")
      }
      if (hit.nonEmpty) {
        val prior = priorByName.get(name)
          .map(dvKeys).getOrElse(Array.empty[Long])
        val merged = (prior ++ hit).distinct.sorted
        val body = (echoOf(si) +: merged.map(_.toString))
          .mkString("", "\n", "\n")
        val tmp = s".dv-$name.g${g0 + 1}.tmp"
        Files.write(Paths.get(path, tmp),
          body.getBytes(StandardCharsets.UTF_8))
        dvs += ((tmp, s"$DvDir/$name.g${g0 + 1}.dv"))
      }
    }
    dvs.toSeq
  }

  /** Merge-on-read DELETE of scattered keys: stage a cumulative dv
    * per intersecting shard ([[stageDvs]]) and land them all in ONE
    * swap commit — atomic, versioned, zero data I/O. Returns the
    * number of dv files committed. Not defined for bucketed layouts
    * (their per-bucket readers never consult dvs — use the CoW paths
    * there). */
  def deleteVectors(path: String, keys: Seq[Long]): Int =
    retryOnConflict(s"deleteVectors($path)") {
      lockFor(path).synchronized {
        require(keys.nonEmpty, "deleteVectors needs at least one key")
        require(!isBucketed(path),
          s"$path is a bucketed graftlog table; deletion vectors are " +
            "defined for the unbucketed layout — use the copy-on-write " +
            "DELETE/MERGE paths instead")
        applySwapIfPresent(path)
        val g0 = generation(path)
        val dvs = stageDvs(path, keys.distinct.sorted.toArray, g0)
        if (dvs.nonEmpty) {
          // expectGen: a CROSS-process structural commit between the
          // listing stageDvs bound its echoes against and this rename
          // would orphan the vectors (names/echoes of retired shards)
          // — the flock-guarded recheck in commitSwap catches it and
          // the retry re-stages against the fresh snapshot
          try commitSwap(path, Nil, Nil, dvs, expectGen = Some(g0))
          catch {
            case e: GraftLogConcurrentWriteException =>
              dvs.foreach(d =>
                Files.deleteIfExists(Paths.get(path, d._1)))
              throw e
          }
          dvFilesWritten.addAndGet(dvs.size.toLong)
        }
        dvs.size
      }
    }

  /** Merge-on-read UPSERT: land `rows` (keyed by event_id, last
    * occurrence wins) as ONE atomic commit that (a) suppresses any
    * existing versions of the keys via deletion vectors and (b)
    * promotes one new shard holding the incoming versions — the
    * manifest applies both together, so readers see the old versions
    * or the new ones, never neither/both. The point-upsert
    * economics: O(#touched shards) dv sidecars + one small shard
    * write, ZERO copy-on-write rewrites of settled data — the
    * metadata-cost alternative to the CoW `MERGE INTO` (q197) for
    * small keyed corrections, with identical read semantics. The
    * change feed gets update-as-delete+insert for free: the dv delta
    * emits the old versions as deletes, the promoted shard its rows
    * as inserts. Unbucketed tables only; rows must carry base
    * columns (evolved columns null-fill on read like any short
    * line). Returns (#shards dv-touched, new shard name).
    *
    * SCOPE: point upserts ONLY. `rows` is a driver-side Seq — it was
    * collected, it serializes into the commit, and it is bounded by
    * `maxRows` (default [[MergeRowsMaxRows]]) so a caller cannot
    * push a bulk correction through the driver; DataFrame-scale
    * corrections belong to `MERGE INTO` (dv-backed when selective,
    * CoW when dense). Raise `maxRows` explicitly only when the
    * caller KNOWS the set is driver-sized. */
  val MergeRowsMaxRows = 10000

  def mergeRows(path: String,
      rows: Seq[(Long, Long, Long, String, Double)],
      maxRows: Int = MergeRowsMaxRows): (Int, String) =
    retryOnConflict(s"mergeRows($path)") {
      mergeRowsOnce(path, rows, maxRows)
    }

  private def mergeRowsOnce(path: String,
      rows: Seq[(Long, Long, Long, String, Double)],
      maxRows: Int): (Int, String) =
    lockFor(path).synchronized {
      require(rows.nonEmpty, "mergeRows needs at least one row")
      require(rows.size <= maxRows,
        s"mergeRows is the POINT-upsert path (driver-side rows): got " +
          s"${rows.size} rows > cap $maxRows — bulk corrections " +
          "belong to MERGE INTO; raise maxRows only for a " +
          "known-driver-sized set")
      require(!isBucketed(path),
        s"$path is a bucketed graftlog table; use the copy-on-write " +
          "MERGE INTO path instead")
      applySwapIfPresent(path)
      // last occurrence of a key wins (the MERGE matched-update rule)
      val byKey = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Long, Long, String, Double)]
      rows.foreach(r => byKey(r._1) = r)
      val up = byKey.values.toSeq.sortBy(_._1)
      // CHECK constraints gate this path exactly like every writer:
      // an upsert must not land what an insert could not. Rows are
      // evaluated against the write schema with evolved columns
      // null-padded (the read-back semantics of a base-only line;
      // NULL passes per SQL tri-state).
      val cs = constraints(path)
      if (cs.nonEmpty) {
        val ext = extSchemaWithDefaults(path)
        val compiled = writeConstraintsFor(path, bucketed = false)
        val preds = compiled.map { case (nm, sql, e) =>
          (nm, sql,
            org.apache.spark.sql.catalyst.expressions.Predicate.create(e))
        }
        // evolved columns pad with what the row will READ BACK as:
        // the declared default (short line), else NULL
        val extPad: Array[Any] = ext.map { case (f, d) =>
          d.map(parseDefault(f.dataType, _)).getOrElse(null: Any)
        }.toArray
        up.foreach { case (id, tsUs, uid, typ, v) =>
          val row = new GenericInternalRow(
            Array[Any](id, tsUs, uid, UTF8String.fromString(typ), v) ++
              extPad)
          preds.foreach { case (nm, sql, p) =>
            if (!p.eval(row))
              throw new IllegalArgumentException(
                s"graftlog CHECK constraint '$nm' violated by upsert " +
                  s"row event_id=$id: ($sql) is false — nothing was " +
                  "committed")
          }
        }
      }
      val ks = up.map(_._1).toArray
      val g0 = generation(path)
      // (a) suppress existing versions — same staging as deleteVectors
      val dvs = stageDvs(path, ks, g0)
      // (b) stage the new-version shard under a claimed index
      val idx = claimShardIndices(path, 1)
      val fin = f"shard-$idx%05d.graftlog"
      val hidden = f".upsert-$idx%05d.tmp"
      Files.write(Paths.get(path, hidden),
        up.map { case (id, tsUs, uid, typ, v) =>
          s"$id|$tsUs|$uid|$typ|$v"
        }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      val meta = s"${up.head._1}|${up.last._1}|${up.size}"
      // expectGen + conflict cleanup — see deleteVectors
      try commitSwap(path, Nil, Seq((hidden, fin, meta)), dvs,
        expectGen = Some(g0))
      catch {
        case e: GraftLogConcurrentWriteException =>
          Files.deleteIfExists(Paths.get(path, hidden))
          dvs.foreach(d => Files.deleteIfExists(Paths.get(path, d._1)))
          throw e
      }
      if (dvs.nonEmpty) dvFilesWritten.addAndGet(dvs.size.toLong)
      (dvs.size, fin)
    }

  /** Render a row (whose format columns start at offset `o`) in the
    * line format: five base positions, then one field per PHYSICAL
    * extension slot (`extSlots`, null = tombstone → [[NullToken]],
    * so dropped columns keep later positions stable); written NULLs
    * also render as [[NullToken]]. Shared by the append writer and
    * the delta-merge writer so the two paths can never disagree on
    * the encoding. The row carries only LIVE evolved columns — the
    * cursor `k` maps them onto their slots. */
  private[sources] def renderLine(r: InternalRow, o: Int,
      extSlots: Array[DataType]): String = {
    val sb = new java.lang.StringBuilder
    sb.append(r.getLong(o)).append('|').append(r.getLong(o + 1))
      .append('|').append(r.getLong(o + 2)).append('|')
      .append(r.getUTF8String(o + 3).toString).append('|')
      .append(r.getDouble(o + 4))
    var j = 0
    var k = 0
    while (j < extSlots.length) {
      sb.append('|')
      if (extSlots(j) == null) sb.append(NullToken) // tombstone slot
      else {
        val idx = o + 5 + k
        if (r.isNullAt(idx)) sb.append(NullToken)
        else extSlots(j) match {
          case LongType | TimestampType | TimestampNTZType =>
            sb.append(r.getLong(idx))
          case DoubleType => sb.append(r.getDouble(idx))
          case DateType => sb.append(r.getInt(idx))
          case BooleanType => sb.append(r.getBoolean(idx))
          case _ => sb.append(r.getUTF8String(idx).toString)
        }
        k += 1
      }
      j += 1
    }
    sb.toString
  }

  /** Commit a delta-based (merge-on-read) MERGE
    * ([[GraftLogDeltaOperation]]) — the bulk sibling of [[mergeRows]]:
    * task-staged delta shards (the new/updated rows) plus task-staged
    * suppression sets (`shardName|event_id` lines, pinned to the
    * exact serving shard by the `_shard` metadata column) land as ONE
    * atomic swap. Per touched shard, the routing is a RUNTIME density
    * decision — the dense-fallback threshold the static CoW-vs-MoR
    * table modes of other lakes can only approximate:
    *
    *  - SPARSE (cumulative suppressed fraction ≤
    *    `spark.graft.merge.dv.maxSuppressedFraction`, default 0.5):
    *    a merged deletion-vector sidecar — O(keys) metadata, ZERO
    *    data I/O. A selective 0.1%-matched merge over a 100 TB table
    *    costs its delta shards plus tiny sidecars, never a rewrite
    *    of settled data.
    *  - DENSE (fraction above the threshold): carrying a vector that
    *    suppresses most of a shard is worse than rewriting it — the
    *    shard is rewritten IN PLACE (kept lines only, prior dv
    *    applied, fresh stats) by one executor task per dense shard,
    *    retiring the old content in the same swap. Cost is O(dense
    *    shard bytes), bounded by the write discipline's shard size.
    *
    * Driver work is strictly metadata-class: it streams the staged
    * suppression lines once (grouping them into per-shard hit files),
    * holds in memory only the key sets of SPARSE shards (each ≤
    * threshold × shard rows by definition), and never touches row
    * data — dense rewrites read their inputs on executors. Readers
    * see the pre-merge or post-merge table, never between; the change
    * feed gets update-as-delete+insert from the dv delta + delta
    * shards exactly like [[mergeRows]]. Returns
    * (#dv sidecars written, #dense shards rewritten). */
  def commitDeltaMerge(path: String,
      rowPromotes: Seq[(String, String, String)],
      dvStages: Seq[String],
      expectGen: Option[Long] = None): (Int, Int) =
    lockFor(path).synchronized {
      val threshold = dvDenseThreshold
      applySwapIfPresent(path)
      val g0 = generation(path)
      // optimistic validation against the merge's plan-time snapshot:
      // the staged suppressions name row VERSIONS the scan saw; if a
      // structural writer landed since, committing them could suppress
      // rewritten content — abort loudly (the V2 write cannot
      // recompute its rows here), cleaning the stage files
      expectGen.filter(_ != g0).foreach { g =>
        rowPromotes.foreach(p =>
          Files.deleteIfExists(Paths.get(path, p._1)))
        dvStages.foreach(st => Files.deleteIfExists(Paths.get(path, st)))
        throw new GraftLogConcurrentWriteException(
          s"graftlog $path: structural generation moved $g -> $g0 " +
            "between the merge's read and its commit — another " +
            "structural writer landed; re-run the MERGE")
      }
      val shards = listShards(path)
      val byName = shards
        .map(si => Paths.get(si.file).getFileName.toString -> si).toMap
      def hitsTmp(name: String) = Paths.get(path, s".dvhits-$name.tmp")
      // one streaming pass over the task stage files: group hits by
      // shard into per-shard files, counting — the driver never holds
      // the full suppression set
      val hitCounts = scala.collection.mutable.Map.empty[String, Long]
      // any failure from here on (unknown-shard abort, the
      // flock-guarded generation recheck in commitSwap, an executor
      // error in the dense rewrite) must leave NO staged litter: the
      // task-staged inputs, the per-shard hit files, and everything
      // this commit staged itself all clean up before the rethrow
      val staged = scala.collection.mutable.ArrayBuffer.empty[String]
      def cleanupAll(): Unit = {
        rowPromotes.foreach(pr =>
          Files.deleteIfExists(Paths.get(path, pr._1)))
        dvStages.foreach(st => Files.deleteIfExists(Paths.get(path, st)))
        hitCounts.keys.foreach(n => Files.deleteIfExists(hitsTmp(n)))
        staged.foreach(t => Files.deleteIfExists(Paths.get(path, t)))
      }
      try {
      val hitWriters =
        scala.collection.mutable.Map.empty[String, java.io.BufferedWriter]
      try dvStages.foreach { st =>
        val s = Files.lines(Paths.get(path, st), StandardCharsets.UTF_8)
        try s.iterator().asScala.filter(_.nonEmpty).foreach { line =>
          val cut = line.indexOf('|')
          val name = line.substring(0, cut)
          if (!byName.contains(name))
            throw new IllegalStateException(
              s"graftlog $path changed under the delta merge: a " +
                s"suppressed row cites shard $name, which the table " +
                "no longer lists — re-run the merge")
          hitWriters.getOrElseUpdate(name, Files.newBufferedWriter(
            hitsTmp(name), StandardCharsets.UTF_8))
            .append(line, cut + 1, line.length).append('\n')
          hitCounts(name) = hitCounts.getOrElse(name, 0L) + 1L
        } finally s.close()
      } finally hitWriters.valuesIterator.foreach(_.close())
      val prior = dvMap(path, shards, g0)
      def readHits(name: String): Seq[Long] =
        Files.readAllLines(hitsTmp(name), StandardCharsets.UTF_8)
          .asScala.toSeq.filter(_.nonEmpty).map(_.toLong)
      val dense = scala.collection.mutable.ArrayBuffer.empty[ShardInfo]
      val dvs =
        scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      hitCounts.keys.toSeq.sorted.foreach { name =>
        val si = byName(name)
        val physRows = si.stats.map(_._3).getOrElse(
          throw new IllegalStateException(
            s"graftlog shard $name of $path has no sidecar — a " +
              "deletion vector cannot bind to it; run " +
              "CALL glog.analyze(table) first"))
        val priorKeys =
          prior.get(name).map(dvKeys).getOrElse(Array.empty[Long])
        // prior-suppressed rows are invisible to the merge scan, so
        // the new hits are disjoint from priorKeys by construction
        val suppressed = priorKeys.length + hitCounts(name)
        if (physRows > 0L && suppressed.toDouble / physRows > threshold)
          dense += si
        else {
          val merged = (priorKeys ++ readHits(name)).distinct.sorted
          val body = (echoOf(si) +: merged.map(_.toString))
            .mkString("", "\n", "\n")
          val tmp = s".dv-$name.g${g0 + 1}.tmp"
          Files.write(Paths.get(path, tmp),
            body.getBytes(StandardCharsets.UTF_8))
          staged += tmp
          dvs += ((tmp, s"$DvDir/$name.g${g0 + 1}.dv"))
        }
      }
      // dense fallback: one executor task per dense shard reads the
      // shard + its hit file + prior dv and stages the kept lines as
      // a hidden tmp; promoted IN PLACE (same name), so the swap
      // retires the old content exactly like deleteWhere's boundary
      // rewrite — this is the CoW arm of the runtime routing
      val drops = scala.collection.mutable.ArrayBuffer.empty[String]
      val densePromotes =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
      if (dense.nonEmpty) {
        val work = dense.map { si =>
          val name = Paths.get(si.file).getFileName.toString
          (si.file, hitsTmp(name).toString, prior.get(name).orNull)
        }.toSeq
        val results = org.apache.spark.sql.SparkSession.active
          .sparkContext.parallelize(work, work.size)
          .map { case (file, hitsFile, priorDv) =>
            val sup: Array[Long] = {
              val hs = Files.readAllLines(Paths.get(hitsFile),
                StandardCharsets.UTF_8).asScala
                .filter(_.nonEmpty).map(_.toLong)
              val ps =
                if (priorDv == null) Nil else dvKeys(priorDv).toSeq
              (hs ++ ps).distinct.sorted.toArray
            }
            val name = Paths.get(file).getFileName.toString
            val kept = readShardLines(file)
              .filter(_.nonEmpty)
              .map(l => (l.substring(0, l.indexOf('|')).toLong, l))
              .filter { case (id, _) =>
                java.util.Arrays.binarySearch(sup, id) < 0 }
            if (kept.isEmpty) (name, null: String, null: String)
            else {
              val hidden = s".mor-$name.tmp"
              Files.write(Paths.get(file).getParent.resolve(hidden),
                kept.map(_._2).mkString("", "\n", "\n")
                  .getBytes(StandardCharsets.UTF_8))
              (name, hidden,
                s"${kept.head._1}|${kept.last._1}|${kept.size}")
            }
          }.collect()
        results.foreach {
          case (name, null, _) => drops += byName(name).file
          case (name, hidden, meta) =>
            staged += hidden
            densePromotes += ((hidden, name, meta))
        }
        shardsRewritten.addAndGet(dense.size.toLong)
      }
      if (drops.nonEmpty || densePromotes.nonEmpty ||
          rowPromotes.nonEmpty || dvs.nonEmpty)
        // re-pass the plan generation: commitSwap rechecks it UNDER
        // the cross-process flock, closing the window between this
        // method's entry check (in-JVM lock only) and the manifest
        // rename — a racing process's compact aborts the merge here
        // instead of landing vectors that cite retired shards
        commitSwap(path, drops.toSeq,
          densePromotes.toSeq ++ rowPromotes, dvs.toSeq,
          expectGen = expectGen.map(_ => g0))
      if (dvs.nonEmpty) dvFilesWritten.addAndGet(dvs.size.toLong)
      dvStages.foreach(st => Files.deleteIfExists(Paths.get(path, st)))
      hitCounts.keys.foreach(n => Files.deleteIfExists(hitsTmp(n)))
      (dvs.size, dense.size)
      } catch { case e: Throwable => cleanupAll(); throw e }
    }

  /** Dv-lifecycle observability (`CALL glog.dv_stats`): per live
    * shard, the suppression state an operator needs to SEE the
    * runtime density routing — physical rows (sidecar), suppressed
    * key count, suppressed fraction, dv sidecar bytes, and the
    * remaining headroom to the dense-rewrite threshold (negative
    * would mean "the next touch rewrites this shard in place").
    * Metadata-class at any table size: one shard listing + one dv
    * listing + one key count per dv file — no row data is read.
    * Returns (shardName, physRows, suppressed, fraction, dvBytes,
    * headroomToDense) for every live shard; shards without a
    * sidecar report physRows = -1 (run CALL glog.analyze). */
  /** The dense-rewrite threshold the routing actually uses — ONE
    * definition shared by [[commitDeltaMerge]]'s decision and
    * [[dvStats]]' reporting (and readable by observability queries),
    * so the operator view can never drift from the plan choice. */
  def dvDenseThreshold: Double =
    try org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.merge.dv.maxSuppressedFraction", "0.5").toDouble
    catch { case scala.util.control.NonFatal(_) => 0.5 }

  def dvStats(path: String): Seq[(String, Long, Long, Double, Long,
      Double)] = {
    val threshold = dvDenseThreshold
    val shards = listShards(path)
    val dvs = dvMap(path, shards, generation(path))
    shards.map { si =>
      val name = Paths.get(si.file).getFileName.toString
      val phys = si.stats.map(_._3).getOrElse(-1L)
      dvs.get(name) match {
        case Some(f) =>
          val keys = dvKeys(f).length.toLong
          // a sidecar-less shard has UNKNOWN density: report the
          // -1 convention for fraction/headroom too — the next
          // row-level touch on it THROWS ("run CALL glog.analyze"),
          // so showing full headroom would be the worst possible lie
          val frac =
            if (phys > 0L) keys.toDouble / phys else -1.0
          (name, phys, keys, frac,
            try Files.size(Paths.get(f))
            catch { case _: java.io.IOException => 0L },
            if (phys > 0L) threshold - frac else -1.0)
        case None if phys >= 0L =>
          (name, phys, 0L, 0.0, 0L, threshold)
        case None => (name, phys, 0L, -1.0, 0L, -1.0)
      }
    }.sortBy(_._1)
  }

  /** Table-level summary (`CALL glog.describe`): one metadata pass —
    * generation, shard/row/byte totals from sidecars (rows = -1 when
    * any sidecar is missing: run CALL glog.analyze rather than lie),
    * dv sidecar count, evolved-column census (live + tombstoned
    * slots), constraint and indexed-column counts, the stored
    * retention policy, and the layout flavor. Listings only — zero
    * row reads at any table size. */
  def describe(path: String): (Long, Int, Long, Long, Long, Int, Int,
      Int, Int, Int, Long, Boolean) = {
    val shards = listShards(path)
    val rows =
      if (shards.forall(_.stats.isDefined))
        shards.flatMap(_.stats).map(_._3).sum
      else -1L
    val dvd = Paths.get(path, DvDir)
    val nDv =
      if (!Files.isDirectory(dvd)) 0L
      else withListing(dvd)(_.count(
        _.getFileName.toString.endsWith(".dv")).toLong)
    val entries = extEntries(path)
    val (retain, minAge) = retentionPolicy(path)
    (generation(path), shards.size, rows, shards.map(_.bytes).sum,
      nDv, entries.count(!_.dropped), entries.count(_.dropped),
      constraints(path).size, indexedColumns(path).size,
      retain, minAge, isBucketed(path))
  }

  /** Fold a pushed DELETE condition into a discrete key SET — the
    * merge-on-read routing: `DELETE … WHERE event_id IN (…)` lands
    * here (deletion vectors), while range/equality conjunctions keep
    * the sidecar-drop/CoW path ([[deleteRange]]). */
  def deleteKeySet(filters: Array[Filter]): Option[Seq[Long]] =
    filters match {
      case Array(org.apache.spark.sql.sources.In("event_id", vs))
          if vs.nonEmpty =>
        val nums = vs.toSeq.map {
          case l: Long => Some(l)
          case i: Int => Some(i.toLong)
          case s: Short => Some(s.toLong)
          case b: Byte => Some(b.toLong)
          case _ => None
        }
        if (nums.forall(_.isDefined)) Some(nums.flatten) else None
      case _ => None
    }

  /** ---- Concurrent-writer conflict contract (r12 brief #3) ----
    *
    * Shard-INDEX claims make concurrent commits name-safe. The
    * conflict matrix for two concurrent operations on one table:
    *
    *  - append ∥ append — SAFE, serialized by claims: each write job
    *    claims its index range atomically ([[claimShardIndices]]);
    *    losers retry past the winner's range, so no two writers ever
    *    target one name, and task publish is an exclusive hardlink
    *    that throws instead of clobbering if the invariant is somehow
    *    broken. Cross-PROCESS, the whole claim+link section of
    *    [[publishAppend]] additionally holds the [[withFsLock]]
    *    flock (r14), so shard names become visible in ascending
    *    order machine-wide: snapshot tokens are prefix-monotonic
    *    under concurrent appender processes, not just threads.
    *  - append ∥ compact / INSERT OVERWRITE / CoW UPDATE/MERGE —
    *    SAFE with append-wins semantics: the rewrite's output names
    *    are claimed before staging, so a racing append can never take
    *    them; the rewrite retires exactly the shards it LISTED at
    *    start, so shards appended during it survive the swap (they
    *    are simply not part of the rewritten snapshot — the same
    *    blind-append-commutes rule as Delta's WriteSerializable).
    *  - append ∥ range DELETE — SAFE, same shape: rows appended
    *    during the delete survive even if they match the range (the
    *    delete applies to the snapshot it read).
    *  - rewrite ∥ rewrite (two compacts, compact ∥ delete, compact ∥
    *    dv-delete, …) — SAFE in-process via OPTIMISTIC commit
    *    validation (r13): every structural commit carries the
    *    generation its decision was read against, [[commitSwap]]
    *    re-checks it under the per-path lock, and a loser gets
    *    [[GraftLogConcurrentWriteException]] — driver-side
    *    maintenance ops then retry against the fresh snapshot
    *    ([[retryOnConflict]], so compact ∥ delete CONVERGES on the
    *    combined outcome: no lost rows, no resurrections, no orphaned
    *    shards), while V2 write jobs (CoW replace, delta merge) abort
    *    loudly because their rows cannot be recomputed at commit.
    *    CROSS-PROCESS, structural committers serialize through the
    *    advisory OS file lock ([[withFsLock]], POSIX flock on
    *    `_structural.lock`) held around every manifest rename — a
    *    losing process then sees the bumped generation and the same
    *    optimistic validation applies. On stores without advisory
    *    locks (object stores) this degrades back to the
    *    single-structural-writer assumption — the boundary Delta
    *    draws at its log store.
    *
    * A claim is an empty `_claim.shard-<idx>` marker; it outlives the
    * write (harmless — an index is never reused while its claim or
    * shard exists) and [[vacuum]] reclaims claims whose shard has
    * been published. Claims of crashed writers whose shard never
    * landed are kept forever: deleting one could hand the index to a
    * new writer while the original (slow, not crashed) still holds
    * it — a skipped index costs nothing, a reused one is a race. */
  private[sources] val ClaimPrefix = "_claim."

  /** First free shard index: one past the highest index any existing
    * shard OR CLAIM carries. Appends name their shards from here so a
    * second batch write can never clobber an earlier one, and names
    * stay monotonic with append order — the invariant the streaming
    * offset (shard count in name order) relies on. */
  def nextShardIndex(path: String): Int = {
    val idx = """shard-(\d+)""".r
    val existing = listShards(path).flatMap(s =>
      idx.findFirstMatchIn(Paths.get(s.file).getFileName.toString)
        .map(_.group(1).toInt))
    val claimed = withListing(Paths.get(path))(
      _.map(_.getFileName.toString)
        .filter(_.startsWith(ClaimPrefix))
        .flatMap(n => idx.findFirstMatchIn(n).map(_.group(1).toInt))
        .toSeq)
    (existing ++ claimed).maxOption.fold(0)(_ + 1)
  }

  /** Per-path monitor serializing the claim→publish section of an
    * append commit WITHIN this JVM (across processes the claim CAS
    * still prevents collisions; see [[publishAppend]] for the
    * residual cross-process ordering note). */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    pathLocks.computeIfAbsent(
      Paths.get(path).toAbsolutePath.normalize.toString, _ => new Object)

  /** Cross-process structural-lock SPI: the one implementation point
    * an OBJECT-STORE deployment must replace — S3-class stores have
    * no advisory file locks, so they plug a conditional-put commit
    * object or an external lock service (DynamoDB-style, as Delta's
    * S3 log store does) here. The contract: `acquire` returns ONLY
    * while holding machine-wide mutual exclusion for the table, and
    * the handle's `close()` releases it; a provider that cannot lock
    * must THROW (never return a non-exclusive handle) — every
    * structural commit, schema DDL, and append publish runs inside
    * this lock, so a silent non-lock would reintroduce every race
    * the flock closes. */
  trait StructuralLockProvider {
    def acquire(tablePath: String): AutoCloseable
  }

  /** Default provider: advisory POSIX flock on `_structural.lock`
    * (local/NFS-style filesystems that honor advisory locks).
    * Bounded wait, loud failure: a lock held >60 s means a wedged
    * peer, not contention. */
  object FlockStructuralLock extends StructuralLockProvider {
    override def acquire(path: String): AutoCloseable = {
      Files.createDirectories(Paths.get(path)) // first-DDL-on-empty-table
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(path, "_structural.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var lock: java.nio.channels.FileLock = null
        var waited = 0
        while (lock == null) {
          lock = ch.tryLock()
          if (lock == null) {
            waited += 1
            if (waited > 600) throw new IllegalStateException(
              s"structural lock on $path held > 60 s by another " +
                "process — a peer committer is wedged")
            Thread.sleep(100)
          }
        }
        val l = lock
        new AutoCloseable {
          override def close(): Unit =
            try l.release() finally ch.close()
        }
      } catch {
        case e: Throwable =>
          try ch.close() catch { case _: java.io.IOException => () }
          throw e
      }
    }
  }

  /** The active provider — swap for object-store deployments before
    * any write. Callers always hold the in-JVM [[lockFor]] monitor
    * first, so providers only need CROSS-process exclusion. */
  @volatile var structuralLockProvider: StructuralLockProvider =
    FlockStructuralLock

  private def withFsLock[A](path: String)(body: => A): A = {
    val handle = structuralLockProvider.acquire(path)
    require(handle != null,
      s"structural lock provider ${structuralLockProvider.getClass
        .getName} returned a null handle for $path — refusing to " +
        "run a structural section without mutual exclusion")
    try body finally handle.close()
  }

  /** Bounded optimistic retry for driver-side structural rewrites:
    * on a [[GraftLogConcurrentWriteException]] (the commit-time
    * generation check lost to another structural writer) the body
    * re-runs against the FRESH snapshot — each attempt re-lists, so
    * retries converge on the combined outcome (compact ∥ delete ends
    * compacted AND deleted, no lost rows, no resurrections). Gives up
    * loudly after `attempts` losses: unbounded spinning under a
    * structural-write storm would hide a deployment problem. */
  private def retryOnConflict[A](what: String, attempts: Int = 3)(
      body: => A): A = {
    var lost = 0
    while (true) {
      try return body
      catch {
        case e: GraftLogConcurrentWriteException =>
          lost += 1
          if (lost > attempts)
            throw new IllegalStateException(
              s"$what lost the structural-commit race $lost times — " +
                "a concurrent structural writer keeps landing; " +
                "serialize maintenance ops or retry later", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish an append job's staged shards: claim the index range and
    * link the tmps in under their final names IN INDEX ORDER, then
    * write sidecars — all at JOB commit, atomically per shard and
    * all-or-nothing per job w.r.t. failures before this point (a
    * failed job leaves only hidden tmps, never partial shards).
    *
    * WHY commit-time, ordered publishing is load-bearing: snapshot
    * tokens pin a COUNT-prefix of the name-sorted listing, which is
    * only well-defined if names become visible in ascending order. A
    * claim taken at write START with task-time publishing broke that
    * — a slow task could publish index 15 AFTER indices 16-19 landed,
    * so a token minted in between pinned a prefix that later CHANGED
    * (caught by GraftLogConcurrencySpec: a compaction reading such a
    * token duplicated the late shard and lost the last one). Claiming
    * and linking here, in order, under the per-path lock makes
    * in-process visibility strictly prefix-monotonic — and the
    * cross-process flock ([[withFsLock]], r14) extends that to
    * concurrent PROCESSES: two appenders' claim+link sections
    * serialize, so names become visible in ascending order
    * machine-wide and a snapshot token can never pin a prefix that a
    * late-publishing peer later changes (structural rewrites were
    * already immune: their visibility is one atomic manifest). Tmps
    * sort by partition id, so the ordered distribution's event_id
    * clustering maps onto ascending shard names and sidecar ranges
    * stay disjoint. */
  def publishAppend(path: String,
      pending: Seq[(String, String, Option[Long])]): Unit = {
    if (pending.nonEmpty) lockFor(path).synchronized {
      withFsLock(path) {
        val base = claimShardIndices(path, pending.size)
        pending.sortBy(_._1).zipWithIndex.foreach {
          case ((tmp, meta, ub), i) =>
            val stem = f"shard-${base + i}%05d" +
              ub.fold("")(u => f"-b$u%05d")
            // exclusive: a collision here is a broken claim
            // invariant — fail loudly rather than clobber
            Files.createLink(Paths.get(path, s"$stem.graftlog"),
              Paths.get(path, tmp))
            Files.deleteIfExists(Paths.get(path, tmp))
            writeMetaAtomic(path, s"$stem.meta", meta)
        }
      }
    }
    recordCommit(path)
  }

  /** Committed streaming-epoch markers: `_epochs/<queryId>-<epoch>`,
    * created by the epoch manifest's `mark` entry — so the marker
    * exists iff the epoch's shards are durably committed. */
  private[sources] val EpochsDir = "_epochs"

  /** EXACTLY-ONCE streaming epoch commit: publish a micro-batch's
    * staged shards atomically and idempotently.
    *
    *  - The commit point is ONE swap-manifest rename (a pure-append
    *    manifest: promote entries + the epoch marker, no drops, no
    *    generation bump). A crash after the rename is completed by
    *    the next reader's roll-forward — links are exclusive, so
    *    re-application never duplicates; a crash before it leaves
    *    only hidden tmps (invisible; the replayed epoch commits
    *    fresh and the orphans are inert litter).
    *  - A REPLAYED epoch (Spark re-runs a batch whose commit already
    *    landed but whose checkpoint write did not) is detected by the
    *    marker and dropped — its tmps deleted, nothing published.
    *    This is sound because graftlog offsets replay identical data
    *    (shards are immutable; the offset is a name-prefix count).
    *  - Names are claimed at commit under the per-path lock, so epoch
    *    shards obey the same prefix-monotonic visibility contract as
    *    batch appends ([[publishAppend]]); readers roll the manifest
    *    forward before listing, so no listing can see a later append
    *    without this epoch's shards. */
  def commitStreamEpoch(path: String, queryId: String, epochId: Long,
      pending: Seq[(String, String, Option[Long])]): Unit = {
    val marker = s"$queryId-$epochId"
    // fs lock: the epoch manifest shares the swap-manifest NAME with
    // structural commits — cross-process serialization matters here
    // exactly as in commitSwap
    lockFor(path).synchronized { withFsLock(path) {
      if (Files.exists(Paths.get(path, EpochsDir, marker))) {
        // replayed epoch: already durably committed — drop the replay
        pending.foreach(p => Files.deleteIfExists(Paths.get(path, p._1)))
        return
      }
      if (pending.isEmpty) {
        // an empty batch still needs its marker (idempotence) — no
        // manifest required, nothing becomes visible
        Files.createDirectories(Paths.get(path, EpochsDir))
        try Files.createFile(Paths.get(path, EpochsDir, marker))
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        return
      }
      val base = claimShardIndices(path, pending.size)
      val promotes = pending.sortBy(_._1).zipWithIndex.map {
        case ((tmp, meta, ub), i) =>
          val fin = f"shard-${base + i}%05d" +
            ub.fold("")(u => f"-b$u%05d") + ".graftlog"
          s"promote|$tmp|$fin|$meta"
      }
      val body = (s"gen|${generation(path)}|append" +:
        (promotes :+ s"mark|$marker")).mkString("", "\n", "\n")
      val mTmp = Paths.get(path, s".$SwapManifest.tmp")
      Files.write(mTmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(mTmp, Paths.get(path, SwapManifest),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE) // ← commit point
      applySwapIfPresent(path)
    } }
  }

  /** Atomically claim `count` consecutive shard indices: the commit
    * point per index is an atomic create of its claim marker; any
    * collision releases the partial range and retries past the
    * refreshed maximum — the optimistic-concurrency loop that makes
    * appends safe against each other and against a staging rewrite. */
  def claimShardIndices(path: String, count: Int): Int = {
    Files.createDirectories(Paths.get(path))
    if (count <= 0) return nextShardIndex(path)
    var attempts = 0
    while (attempts < 1000) {
      val base = nextShardIndex(path)
      val claimed =
        scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      val ok = (base until base + count).forall { i =>
        val c = Paths.get(path, f"${ClaimPrefix}shard-$i%05d")
        try { Files.createFile(c); claimed += c; true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      }
      if (ok) return base
      claimed.foreach(Files.deleteIfExists(_)) // lost the race: release
      attempts += 1
    }
    throw new IllegalStateException(
      s"claimShardIndices($path, $count): lost the claim race 1000 times")
  }

  /** Compact a small-shard log into `shards` large ones — the
    * lakehouse OPTIMIZE for the format, run through the connector's
    * own seams: the V2 read feeds the V2 write, whose
    * RequiresDistributionAndOrdering re-clusters on event_id, so the
    * compacted layout has disjoint sidecar ranges and every pruning
    * tier (static, runtime, limit/top-n) stays as sharp as at first
    * ingest. Committed IN PLACE via the swap manifest
    * ([[commitSwap]]): compacted shards stage in a scratch dir, move
    * into the table dir as hidden tmps, then ONE manifest rename
    * retires every old shard and promotes the new generation — the
    * table path never disappears (the earlier two-rename swap left it
    * absent between renames), and a crash at any point leaves either
    * the old generation intact or a manifest the next reader rolls
    * forward. Unbucketed logs only — a bucketed dir does not record
    * its bucket COUNT, so a rewrite could not prove it preserves the
    * layout contract every storage-partitioned join depends on.
    * Returns (shards before, shards after). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      shards: Int): (Int, Int) = {
    require(shards >= 1, s"shards=$shards")
    require(!isBucketed(path),
      s"$path is a bucketed graftlog table; compaction would need the " +
        "bucket count, which the layout does not record — re-ingest instead")
    retryOnConflict(s"compact($path)")(compactOnce(spark, path, shards))
  }

  private def compactOnce(spark: org.apache.spark.sql.SparkSession,
      path: String, shards: Int): (Int, Int) = {
    // Pin the snapshot FIRST and read through its token: the rewrite
    // read otherwise plans its own (later) listing, so a shard
    // appended between this listing and the read would be folded into
    // the compacted output WITHOUT being retired — duplicated rows
    // (caught by GraftLogConcurrencySpec's append∥compact race). With
    // the token, compact reads exactly what it retires and racing
    // appends stay untouched — the append-wins contract.
    val tok = currentVersion(path)
    val olds = shardsAt(path, Some(tok))
    val before = olds.size
    // staging dir unique per ATTEMPT: concurrent structural writers
    // (now legal — optimistic retry) must never clobber each other's
    // staging; the loser's dir is removed on its own conflict path
    val tmp = path + "__compact_tmp-" +
      java.util.UUID.randomUUID().toString.take(8)
    def rmdir(d: String): Unit = {
      val p = Paths.get(d)
      if (Files.isDirectory(p)) { // recursive: staging carries _commits
        val w = Files.walk(p)
        try w.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
        finally w.close()
      }
    }
    // an evolved table compacts with its added columns intact: the
    // staging dir carries the same extension file, so the V2 write
    // resolves (and serializes) the full schema
    if (Files.exists(Paths.get(path, ExtSchemaFile))) {
      Files.createDirectories(Paths.get(tmp))
      Files.copy(Paths.get(path, ExtSchemaFile),
        Paths.get(tmp, ExtSchemaFile))
    }
    spark.read.format("graft.sources.GraftLogSource")
      .option("version", tok).load(path)
      .write.format("graft.sources.GraftLogSource")
      .mode("append").option("shards", shards).save(tmp)
    val staged = listShards(tmp)
    // stage inside the table dir as hidden tmps (same filesystem —
    // plain renames), with CLAIMED indices past every live shard so a
    // racing append can never take the output names; invisible to
    // readers until the manifest lands
    val base = claimShardIndices(path, staged.size)
    val promotes = staged.zipWithIndex.map { case (s, i) =>
      val hidden = f".compact-${base + i}%05d.tmp"
      Files.move(Paths.get(s.file), Paths.get(path, hidden),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val (mn, mx, n) = s.stats.getOrElse(throw new IllegalStateException(
        s"compacted shard ${s.file} lost its sidecar"))
      (hidden, f"shard-${base + i}%05d.graftlog", s"$mn|$mx|$n")
    }
    try commitSwap(path, olds.map(_.file), promotes,
      expectGen = Some(tokenOrd(tok)._1))
    catch {
      case e: GraftLogConcurrentWriteException =>
        // lost the optimistic race: drop this attempt's staging so
        // the retry starts clean (claims stay — indices never reuse)
        promotes.foreach(p => Files.deleteIfExists(Paths.get(path, p._1)))
        rmdir(tmp)
        throw e
    }
    rmdir(tmp)
    (before, staged.size)
  }

  /** Z-ORDER CLUSTERING rewrite (`OPTIMIZE … ZORDER BY` for the
    * format): re-shards the table so every shard covers a tight range
    * in BOTH event_id and `dim` — rows are range-partitioned by their
    * Morton value ([[graft.functions.ZOrder]]: the two columns scaled
    * to their domains and bit-interleaved), then each shard is
    * event_id-sorted internally, keeping the format's within-shard
    * order contract. After the rewrite a secondary range index on
    * `dim` ([[buildIndex]]) prunes sharply instead of degenerating
    * (an id-clustered layout spreads every dim value across every
    * shard), at the documented price that shard event_id ranges now
    * OVERLAP — top-n shard selection self-disables via its
    * disjointness check and sidecar pruning on event_id widens; you
    * cluster on what you filter by. Same commit shape as [[compact]]:
    * one distributed pass (the write plans NO exchange beyond the
    * z range partitioning — `preservePartitioning`), staged hidden,
    * landed by one atomic swap; racing appends survive (append-wins).
    * Scale: the one full rewrite every clustering op costs on any
    * engine; afterwards dim-selective reads open O(matching shards)
    * instead of O(all). */
  def clusterZ(spark: org.apache.spark.sql.SparkSession, path: String,
      shards: Int, dim: String = "user_id"): (Int, Int) =
    clusterZDims(spark, path, shards, Seq(dim))

  /** The clustering-state files an incremental step resolves against:
    * `_cluster.meta` records the key (dims CSV incl. the implicit
    * leading event_id, bits per dim, and each dim's RECORDED domain),
    * `_cluster.names` the shard names written by clustering passes.
    * Shard names are never reused (index claims), so name membership
    * is a sound "already clustered" test — a compact that rewrites a
    * clustered shard mints a new name, which correctly counts as
    * unclustered again. */
  private[sources] val ClusterMetaFile = "_cluster.meta"
  private[sources] val ClusterNamesFile = "_cluster.names"

  /** n-dimensional z-order clustering: the clustering key is
    * `event_id +: dims` (2..n columns), interleaved by
    * [[graft.functions.ZOrder.zvalueN]] — every shard gets a tight
    * bounding box in EVERY key dimension at once, so range/bloom
    * indexes on each dim prune sharply. Records the clustering state
    * for [[clusterZIncremental]]. Full rewrite — the one any
    * clustering op costs; steady-append tables take the incremental
    * step afterwards instead of paying this again. */
  def clusterZDims(spark: org.apache.spark.sql.SparkSession,
      path: String, shards: Int, dims: Seq[String]): (Int, Int) = {
    require(shards >= 1, s"shards=$shards")
    require(!isBucketed(path),
      s"$path is a bucketed graftlog table; its layout is already " +
        "clustered by bucket — re-ingest to change it")
    require(dims.nonEmpty && dims.distinct == dims &&
      !dims.contains("event_id"),
      "z-order needs 1+ DISTINCT dimensions beyond event_id (the " +
        "implicit first)")
    retryOnConflict(s"cluster($path)")(
      clusterZOnce(spark, path, shards, dims))
  }

  private def rmStageDir(d: String): Unit = {
    val p = Paths.get(d)
    if (Files.isDirectory(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  /** Validate the key columns and measure their domains over `df`.
    * Returns (lo, hi) per key column (event_id first). */
  private def zDomains(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): Option[Seq[(Long, Long)]] = {
    import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
    keys.foreach { k =>
      df.schema(k).dataType match {
        case _: org.apache.spark.sql.types.NumericType => ()
        case t => throw new IllegalArgumentException(
          s"z-order dim '$k' is not numeric (it is $t) — cluster on " +
            "numeric columns")
      }
    }
    val aggs = keys.flatMap(k => Seq(fmin(col(k).cast("long")),
      fmax(col(k).cast("long"))))
    val dom = df.agg(aggs.head, aggs.tail: _*).head()
    if (dom.isNullAt(0)) return None // empty table
    keys.indices.foreach { i =>
      if (dom.isNullAt(2 * i))
        throw new IllegalArgumentException(
          s"z-order dim '${keys(i)}' is NULL for every row — cluster " +
            "on populated numeric columns")
    }
    Some(keys.indices.map(i =>
      (dom.getLong(2 * i), dom.getLong(2 * i + 1))))
  }

  private def zColumn(keys: Seq[String], doms: Seq[(Long, Long)],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    graft.functions.ZOrder.zvalueN(keys.zip(doms).map { case (k, (lo, hi)) =>
      graft.functions.ZOrder.scaledTo(col(k).cast("long"), lo, hi, bits)
    })
  }

  /** Stage `df` z-partitioned into `tmp`, move the outputs into the
    * table dir as hidden tmps under claimed indices, and return the
    * promote entries. */
  private def stageZWrite(spark: org.apache.spark.sql.SparkSession,
      path: String, tmp: String, df: org.apache.spark.sql.DataFrame,
      z: org.apache.spark.sql.Column, shards: Int, tag: String)
      : Seq[(String, String, String)] = {
    import org.apache.spark.sql.functions.col
    if (Files.exists(Paths.get(path, ExtSchemaFile))) {
      Files.createDirectories(Paths.get(tmp))
      Files.copy(Paths.get(path, ExtSchemaFile),
        Paths.get(tmp, ExtSchemaFile))
    }
    df.withColumn("__graft_z", z)
      .repartitionByRange(shards, col("__graft_z"))
      .drop("__graft_z")
      .write.format("graft.sources.GraftLogSource")
      .mode("append").option("preservePartitioning", "true").save(tmp)
    val staged = listShards(tmp)
    val base = claimShardIndices(path, staged.size)
    staged.zipWithIndex.map { case (s, i) =>
      val hidden = f".$tag-${base + i}%05d.tmp"
      Files.move(Paths.get(s.file), Paths.get(path, hidden),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val (mn, mx, n) = s.stats.getOrElse(throw new IllegalStateException(
        s"clustered shard ${s.file} lost its sidecar"))
      (hidden, f"shard-${base + i}%05d.graftlog", s"$mn|$mx|$n")
    }
  }

  /** Persist the clustering state after a successful commit (meta is
    * advisory for the incremental step; a crash before these lands
    * just means the next incremental refuses and asks for a full
    * cluster). */
  private def recordClusterState(path: String, keys: Seq[String],
      bits: Int, doms: Seq[(Long, Long)],
      newNames: Seq[String], replace: Boolean): Unit = {
    if (replace) {
      val meta = (keys.mkString(",") +: bits.toString +:
        doms.map { case (lo, hi) => s"$lo|$hi" }).mkString("|")
      val t = Paths.get(path, s".$ClusterMetaFile.tmp")
      Files.write(t, meta.getBytes(StandardCharsets.UTF_8))
      Files.move(t, Paths.get(path, ClusterMetaFile),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val prior =
      if (replace || !Files.exists(Paths.get(path, ClusterNamesFile))) Nil
      else Files.readAllLines(Paths.get(path, ClusterNamesFile),
        StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)
    val t2 = Paths.get(path, s".$ClusterNamesFile.tmp")
    Files.write(t2, (prior ++ newNames).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(t2, Paths.get(path, ClusterNamesFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def clusterZOnce(spark: org.apache.spark.sql.SparkSession,
      path: String, shards: Int, dims: Seq[String]): (Int, Int) = {
    val tok = currentVersion(path)
    val olds = shardsAt(path, Some(tok))
    val before = olds.size
    // unique per attempt — see compactOnce
    val tmp = path + "__cluster_tmp-" +
      java.util.UUID.randomUUID().toString.take(8)
    val df = spark.read.format("graft.sources.GraftLogSource")
      .option("version", tok).load(path)
    val keys = "event_id" +: dims
    // key + domain checks BEFORE any staging dir exists, so the early
    // returns / failures below leave nothing on disk
    val doms = zDomains(df, keys) match {
      case None => return (before, 0) // empty table: nothing to do
      case Some(d) => d
    }
    val bits = graft.functions.ZOrder.bitsFor(keys.size)
    val promotes = stageZWrite(spark, path, tmp, df,
      zColumn(keys, doms, bits), shards, "cluster")
    try commitSwap(path, olds.map(_.file), promotes,
      expectGen = Some(tokenOrd(tok)._1))
    catch {
      case e: GraftLogConcurrentWriteException =>
        promotes.foreach(p => Files.deleteIfExists(Paths.get(path, p._1)))
        rmStageDir(tmp)
        throw e
    }
    rmStageDir(tmp)
    recordClusterState(path, keys, bits, doms, promotes.map(_._2),
      replace = true)
    (before, promotes.size)
  }

  /** INCREMENTAL clustering (the liquid-clustering step): z-order
    * ONLY the shards appended since the last clustering pass, under
    * the RECORDED key/domains (out-of-domain values clamp to the
    * curve edge), and swap exactly those — settled clustered shards
    * are byte-untouched. Cost is O(new data); a steady-append table
    * never pays [[clusterZDims]]' full rewrite twice. `shards = 0`
    * sizes the output from the clustered layout's mean shard bytes.
    * Unclustered shards are read via hardlink staging (their dv
    * sidecars linked along, so suppressed rows stay suppressed).
    * Returns (#unclustered shards folded, #shards written). */
  def clusterZIncremental(spark: org.apache.spark.sql.SparkSession,
      path: String, shards: Int = 0): (Int, Int) = {
    require(Files.exists(Paths.get(path, ClusterMetaFile)),
      s"$path has no clustering state — run the full " +
        "CALL glog.cluster(...) first")
    retryOnConflict(s"clusterIncremental($path)")(
      clusterZIncrementalOnce(spark, path, shards))
  }

  private def clusterZIncrementalOnce(
      spark: org.apache.spark.sql.SparkSession,
      path: String, shards: Int): (Int, Int) = {
    val meta = new String(Files.readAllBytes(
      Paths.get(path, ClusterMetaFile)), StandardCharsets.UTF_8)
      .trim.split("\\|", -1)
    val keys = meta(0).split(',').toSeq
    val bits = meta(1).toInt
    val doms = (2 until meta.length by 2).map(i =>
      (meta(i).toLong, meta(i + 1).toLong))
    require(doms.size == keys.size,
      s"corrupt $ClusterMetaFile in $path")
    val clustered: Set[String] =
      if (!Files.exists(Paths.get(path, ClusterNamesFile))) Set.empty
      else Files.readAllLines(Paths.get(path, ClusterNamesFile),
        StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).toSet
    val tok = currentVersion(path)
    val all = shardsAt(path, Some(tok))
    val fresh = all.filterNot(si =>
      clustered.contains(Paths.get(si.file).getFileName.toString))
    if (fresh.isEmpty) return (0, 0)
    val k =
      if (shards > 0) shards
      else {
        val settled = all.filter(si =>
          clustered.contains(Paths.get(si.file).getFileName.toString))
        val target =
          if (settled.isEmpty) fresh.map(_.bytes).sum
          else math.max(1L, settled.map(_.bytes).sum / settled.size)
        math.max(1, math.ceil(
          fresh.map(_.bytes).sum.toDouble / target).toInt)
      }
    // hardlink the unclustered shards (+sidecars, +their dvs, +ext
    // schema) into a staging READ dir: the z write then scans O(new
    // data), never the settled clustered layout
    val src = path + "__zinc_src-" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = path + "__zinc_tmp-" +
      java.util.UUID.randomUUID().toString.take(8)
    Files.createDirectories(Paths.get(src))
    val g0 = tokenOrd(tok)._1
    val dvs = dvMap(path, fresh, g0)
    fresh.foreach { si =>
      val name = Paths.get(si.file).getFileName.toString
      Files.createLink(Paths.get(src, name), Paths.get(si.file))
      val m = Paths.get(si.file.stripSuffix(".graftlog") + ".meta")
      if (Files.exists(m))
        Files.createLink(Paths.get(src,
          name.stripSuffix(".graftlog") + ".meta"), m)
      dvs.get(name).foreach { dvf =>
        Files.createDirectories(Paths.get(src, DvDir))
        // re-keyed to g0: the staging dir has no generation marker,
        // and a vector only applies when its dvGen ≤ the read's
        // generation — the echo still binds it to the linked content
        Files.createLink(Paths.get(src, DvDir, s"$name.g0.dv"),
          Paths.get(dvf))
      }
    }
    if (Files.exists(Paths.get(path, ExtSchemaFile)))
      Files.copy(Paths.get(path, ExtSchemaFile),
        Paths.get(src, ExtSchemaFile))
    try {
      val df = spark.read.format("graft.sources.GraftLogSource")
        .load(src)
      val promotes = stageZWrite(spark, path, tmp, df,
        zColumn(keys, doms, bits), k, "zinc")
      try commitSwap(path, fresh.map(_.file), promotes,
        expectGen = Some(g0))
      catch {
        case e: GraftLogConcurrentWriteException =>
          promotes.foreach(p =>
            Files.deleteIfExists(Paths.get(path, p._1)))
          throw e
      }
      recordClusterState(path, keys, bits, doms, promotes.map(_._2),
        replace = false)
      (fresh.size, promotes.size)
    } finally { rmStageDir(tmp); rmStageDir(src) }
  }

  /** Bin-packing OPTIMIZE (Delta's small-file compaction, distinct
    * from [[compact]]'s full rewrite): merge only the shards SMALLER
    * than `targetBytes` into ≈`targetBytes` bins, leaving every
    * well-sized shard byte-untouched — the answer to streaming
    * ingest's small-file problem, where a day of micro-batch epochs
    * mints thousands of KB-scale shards next to TB of settled data.
    * A full compact would rewrite the TB; optimize rewrites only the
    * small tail: cost is O(small bytes), not O(table).
    *
    * Mechanics: candidates (bytes < targetBytes) sort by sidecar
    * min-id and bin greedily in that order, so merged shards cover
    * near-contiguous id ranges and sidecar pruning stays sharp; each
    * bin's lines merge-sort by event_id ON AN EXECUTOR (one Spark
    * task per bin — the driver never holds data), applying any valid
    * deletion vectors (a rewrite must not resurrect suppressed
    * rows); bins land as hidden tmps with claimed indices and the
    * whole optimize commits as ONE atomic swap — retired small
    * shards (and their dvs) stay readable to pre-optimize tokens
    * until VACUUM, racing appends survive (append-wins). Returns
    * (shards merged, bins written). */
  def optimize(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes=$targetBytes")
    require(!isBucketed(path),
      s"$path is a bucketed graftlog table; per-bucket optimize is not " +
        "supported — re-ingest instead")
    retryOnConflict(s"optimize($path)")(
      optimizeOnce(spark, path, targetBytes))
  }

  private def optimizeOnce(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long): (Int, Int) = {
    val tok = currentVersion(path)
    val all = shardsAt(path, Some(tok))
    val small = all.filter(_.bytes < targetBytes)
      .sortBy(_.stats.map(_._1).getOrElse(Long.MaxValue))
    if (small.size < 2) return (0, 0)
    // greedy contiguous binning over the min-id order
    val bins = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[ShardInfo])
    var acc = 0L
    small.foreach { si =>
      if (acc > 0 && acc + si.bytes > targetBytes) {
        bins += scala.collection.mutable.ArrayBuffer.empty[ShardInfo]
        acc = 0L
      }
      bins.last += si
      acc += si.bytes
    }
    val groups = bins.map(_.toSeq).toSeq
    val gen = generation(path)
    val dvs = dvMap(path, small, gen)
    val base = claimShardIndices(path, groups.size)
    // one task per bin: merge-sort lines by event_id, drop dv keys,
    // write the hidden tmp + recomputed stats from the executor
    val work = groups.zipWithIndex.map { case (g, i) =>
      (g.map(si => (si.file,
        dvs.get(Paths.get(si.file).getFileName.toString).orNull)),
        f".optimize-${base + i}%05d.tmp")
    }
    val tableDir = path
    val merged: Seq[(String, String)] = spark.sparkContext
      .parallelize(work, work.size).map { case (files, hidden) =>
        val lines = files.flatMap { case (f, dvFile) =>
          val dv: Array[Long] =
            if (dvFile == null) Array.empty else dvKeys(dvFile)
          readShardLines(f).filter(_.nonEmpty)
            .map(l => (l.substring(0, l.indexOf('|')).toLong, l))
            .filter { case (id, _) =>
              dv.isEmpty || java.util.Arrays.binarySearch(dv, id) < 0 }
        }.sortBy(_._1)
        if (lines.isEmpty) (hidden, null: String) // fully dv-suppressed bin
        else {
          Files.write(Paths.get(tableDir).resolve(hidden),
            lines.map(_._2).mkString("", "\n", "\n")
              .getBytes(StandardCharsets.UTF_8))
          (hidden, s"${lines.head._1}|${lines.last._1}|${lines.size}")
        }
      }.collect().toSeq
    val promotes = merged.zipWithIndex.collect {
      case ((hidden, meta), i) if meta != null =>
        (hidden, f"shard-${base + i}%05d.graftlog", meta)
    }
    try commitSwap(path, small.map(_.file), promotes,
      expectGen = Some(tokenOrd(tok)._1))
    catch {
      case e: GraftLogConcurrentWriteException =>
        promotes.foreach(p => Files.deleteIfExists(Paths.get(path, p._1)))
        throw e
    }
    (small.size, promotes.size)
  }

  /** A directory is a bucketed table iff it has shards and every
    * sidecar carries a bucket value — one manifest read, the same
    * cost planning already pays. An empty/new dir is decided by the
    * writer's options instead. */
  def isBucketed(path: String): Boolean = {
    val dir = Paths.get(path)
    Files.isDirectory(dir) && {
      val shards = listShards(path)
      shards.nonEmpty && shards.forall(_.ub.isDefined)
    }
  }

  /** Write rows as `.graftlog` shards + `.meta` sidecars
    * (`min|max|rows` over event_id), `rowsPerShard` per file in
    * event_id order — ingest-side clustering, which is what makes
    * the sidecar ranges disjoint and the pruning sharp (the q141
    * lesson: skipping power is a property of the LAYOUT). */
  def write(rows: Seq[(Long, Long, Long, String, Double)], dir: String,
      rowsPerShard: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    rows.sortBy(_._1).grouped(rowsPerShard).zipWithIndex.foreach {
      case (shard, i) =>
        val body = shard.map { case (id, tsUs, uid, typ, v) =>
          s"$id|$tsUs|$uid|$typ|$v"
        }.mkString("", "\n", "\n")
        Files.write(Paths.get(dir, f"shard-$i%05d.graftlog"),
          body.getBytes(StandardCharsets.UTF_8))
        val meta = s"${shard.head._1}|${shard.last._1}|${shard.size}"
        Files.write(Paths.get(dir, f"shard-$i%05d.meta"),
          meta.getBytes(StandardCharsets.UTF_8))
    }
    recordCommit(dir)
  }
}

class GraftLogTable(path: String, bucketed: Boolean = false,
    pinnedVersion: Option[String] = None,
    changeFeed: Boolean = false) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_shard` metadata column — per-row physical lineage (parquet's
    * `_metadata.file_path` on the custom format): which shard file
    * served the row. Hidden from `SELECT *`; surfaces on explicit
    * reference. What it buys at scale: per-shard audits (row counts
    * vs sidecar, skew between shards) become plain SQL GROUP BYs. */
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = "_shard"
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String = "shard file name serving the row"
    })
  require(path != null, "graftlog source requires a path")
  override def name(): String = s"graftlog($path)"

  /** SQL `DELETE FROM` (via [[GraftLogCatalog]]): a condition folding
    * to one event_id RANGE takes the sidecar-drop/CoW path
    * ([[GraftLog.deleteRange]] — that restriction IS the scale
    * contract), and an `event_id IN (…)` key SET takes the
    * merge-on-read deletion-vector path ([[GraftLog.deleteVectors]] —
    * scattered point deletes cost metadata, not rewrites). Anything
    * else is rejected at analysis, steering the caller to the
    * anti-join/compaction path. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftLog.deleteRange(filters).isDefined ||
      (!bucketed && GraftLog.deleteKeySet(filters).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit =
    GraftLog.deleteRange(filters) match {
      case Some((lo, hi)) => if (lo <= hi) GraftLog.deleteWhere(path, lo, hi)
      case None => GraftLog.deleteKeySet(filters) match {
        case Some(keys) if !bucketed => GraftLog.deleteVectors(path, keys)
        case _ => throw new IllegalArgumentException(
          s"unsupported delete condition: ${filters.mkString(", ")} " +
            "(only event_id range conjunctions — shard pruning — or an " +
            "event_id IN list — deletion vectors — fold)")
      }
    }

  /** SQL UPDATE / MERGE INTO (and the row-level DELETE fallback).
    * ALL THREE commands route to the delta-based merge-on-read
    * operation ([[GraftLogDeltaOperation]] — deletion vectors +
    * delta shards) by default: the per-shard DENSITY decision in
    * [[GraftLog.commitDeltaMerge]] already rewrites any shard whose
    * suppressed fraction crosses the threshold in place, so a
    * range-predicated UPDATE (every row of the touched shards) still
    * lands as the group-shaped rewrite while a SCATTERED one
    * (`user_id % 1000 = 7`, a keyed fix-up) pays dv sidecars + one
    * delta shard instead of whole-group rewrites — a static conf
    * cannot beat the measured fraction, so the old cow defaults for
    * UPDATE/DELETE were strictly dominated. Escape hatches per
    * command: `spark.graft.{merge,update,delete}.mode=cow` force the
    * group-based copy-on-write path ([[GraftLogRowLevelOperation]]).
    * Bucketed layouts are refused: the replacement write would need
    * the bucket count, which the layout does not record (the
    * [[GraftLog.compact]] rule). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(!bucketed,
      s"row-level operations on bucketed graftlog table $path are not " +
        "supported: the layout does not record its bucket count")
    () => {
      val conf = org.apache.spark.sql.SparkSession.active.conf
      val mor = info.command() match {
        case RowLevelOperation.Command.MERGE =>
          conf.get("spark.graft.merge.mode", "mor") != "cow"
        case RowLevelOperation.Command.UPDATE =>
          // default mor (r14): the commit-time density routing picks
          // the group-shaped rewrite for range-predicated statements
          // anyway, so the static cow default bought nothing and
          // cost scattered updates whole-group rewrites
          conf.get("spark.graft.update.mode", "mor") != "cow"
        case RowLevelOperation.Command.DELETE =>
          // same default for the row-level DELETE FALLBACK
          // (conditions that fold to neither an event_id range nor
          // an IN-set): under mor a scattered predicate delete
          // commits as pure deletion-vector sidecars — zero data
          // writes — and a dense one rewrites in place
          conf.get("spark.graft.delete.mode", "mor") != "cow"
        case _ => false
      }
      if (mor) new GraftLogDeltaOperation(path, info.command())
      else new GraftLogRowLevelOperation(path, info.command())
    }
  }
  /** Evolved columns resolved at table load — AT the pinned snapshot
    * for a time-travel load (VERSION/TIMESTAMP AS OF reads its
    * snapshot under the schema it was written with); bucketed
    * layouts never evolve (the catalog refuses). */
  private val ext: Seq[StructField] =
    if (bucketed) Nil
    else GraftLog.extColsAt(path, pinnedVersion).map(_.field)
  override def schema(): StructType = {
    val base =
      if (bucketed) GraftLog.bucketedSchema
      else StructType(GraftLog.schema.fields ++ ext)
    if (changeFeed) StructType(base.fields :+ GraftLog.ChangeTypeField)
    else base
  }
  override def partitioning(): Array[Transform] =
    if (bucketed) Array(Expressions.identity("ub")) else Array.empty
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(path, schema(),
      Option(options.get("maxShardsPerTrigger")).map(_.toInt),
      // a catalog time-travel load (VERSION AS OF / TIMESTAMP AS OF)
      // pins every scan of this table handle; a reader-level
      // .option("version", …) or .option("timestampAsOf", epochMs) on
      // a plain load can still ask explicitly (wall-clock resolution
      // happens HERE, at plan time, through the commit markers — the
      // scan then runs on the exact-version machinery). sinceVersion
      // reads only the shards a snapshot did NOT yet contain
      // (incremental feed).
      Option(options.get("version"))
        .orElse(Option(options.get("timestampAsOf"))
          .map(ts => GraftLog.timestampAsOf(path, ts.toLong)))
        .orElse(pinnedVersion),
      Option(options.get("sinceVersion")),
      changeFeed = changeFeed,
      maxCommitsPerTrigger =
        Option(options.get("maxCommitsPerTrigger")).map(_.toInt),
      ignoreDeletes =
        Option(options.get("ignoreDeletes")).exists(_.toBoolean))

  /** Batch write: `df.write.format("graft.sources.GraftLogSource")
    * .mode("append").save(dir)`. The arriving schema must BE the
    * graftlog schema — this is a fixed-format sink, not a generic
    * one; a mismatch is a pipeline bug better thrown at plan time
    * than parsed wrong at read time.
    *
    * Bucketed layout: `.option("bucketBy", "user_id")
    * .option("buckets", n)` — the input must carry the bucket column
    * `ub = floorMod(user_id, n)` (validated row-by-row at write:
    * a wrong ub would silently break every storage-partitioned join
    * downstream, so it is a write-time error, not a read-time
    * surprise). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // Spark's own analysis already rejects name/type mismatches
    // against schema() (INCOMPATIBLE_DATA_FOR_TABLE); this require is
    // the backstop for column-ORDER drift, which resolution-by-name
    // would otherwise let through to positional writers. An EVOLVED
    // table also accepts a base-only feed (a legacy writer that
    // predates the ALTER): its lines stay short and read back as
    // nulls — the same contract as the pre-ALTER shards.
    val want = schema().fields.map(f => (f.name, f.dataType)).toSeq
    val baseWant = (if (bucketed) GraftLog.bucketedSchema
      else GraftLog.schema).fields.map(f => (f.name, f.dataType)).toSeq
    val got = info.schema().fields.map(f => (f.name, f.dataType)).toSeq
    require(got == want || got == baseWant,
      s"graftlog sink needs schema ${schema().simpleString}, " +
        s"got ${info.schema().simpleString}")
    // the writer gets the PHYSICAL slot layout (tombstones render as
    // the NULL sentinel so later columns keep their positions)
    val writeExt: Seq[DataType] =
      if (got == baseWant) Nil else GraftLog.extWriteSlots(path)
    val shards = Option(info.options().get("shards")).map(_.toInt)
    val buckets = Option(info.options().get("buckets")).map(_.toInt)
    // the caller has already shaped the data (e.g. a z-order
    // clustering rewrite range-partitioned by Morton value): keep its
    // partitioning, only sort within partitions — see GraftLogWrite
    val preserve =
      Option(info.options().get("preservePartitioning")).exists(_.toBoolean)
    require(!(preserve && (bucketed || buckets.isDefined)),
      "preservePartitioning is for unbucketed writes only (a bucketed " +
        "layout's whole-bucket-per-task contract needs the planned " +
        "clustered distribution)")
    if (bucketed) {
      require(Option(info.options().get("bucketBy")).contains("user_id"),
        "bucketed graftlog writes support bucketBy=user_id only")
      require(buckets.exists(_ > 0),
        "bucketed graftlog writes need .option(\"buckets\", n > 0)")
    }
    val queryId = info.queryId()
    new WriteBuilder with SupportsTruncate {
      // INSERT OVERWRITE / SaveMode.Overwrite: Spark asks the builder
      // to truncate; the overwrite batch-write snapshots the existing
      // shard list at execution start and swaps it for the new
      // generation in ONE manifest commit (GraftLog.commitSwap) — no
      // reader can observe old+new together or an empty table.
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = {
        val b = if (bucketed) buckets else None
        if (doTruncate) new GraftLogTruncateWrite(path, shards, b, writeExt)
        else new GraftLogWrite(path, shards, b, writeExt, Some(queryId),
          preserve)
      }
    }
  }
}

/** The write declares its layout needs at the DSv2 seam and CATALYST
  * plans the exchange: `RequiresDistributionAndOrdering` asks for an
  * ordered (range) distribution + per-partition sort on event_id, so
  * every shard covers a disjoint event_id range and the `.meta`
  * sidecar stats prune sharply on read — the q141 lesson (skipping
  * power is a property of the layout) enforced BY the connector
  * instead of hoped for from the caller. A writer that forgets to
  * pre-shape its data still produces a well-clustered log. */
class GraftLogWrite(path: String, shards: Option[Int] = None,
    buckets: Option[Int] = None,
    ext: Seq[DataType] = Nil,
    queryId: Option[String] = None,
    preservePartitioning: Boolean = false)
    extends Write with RequiresDistributionAndOrdering {
  private val byEventId: Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("event_id"),
      SortDirection.ASCENDING))
  // Bucketed layout: cluster on ub (every bucket lands WHOLE in one
  // write task) and sort (ub, event_id) within the task, so the
  // writer rolls to a new shard on each ub change and every shard is
  // single-bucket + event_id-clustered — co-location for the
  // storage-partitioned join AND sharp sidecar ranges, both declared
  // at the DSv2 seam and planned by Catalyst.
  private val byBucketThenEventId: Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("ub"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("event_id"),
      SortDirection.ASCENDING))
  // `preservePartitioning`: the caller's partitioning IS the layout
  // (a clustering rewrite already range-partitioned by its own key,
  // e.g. a Morton z value that is not a table column and so cannot be
  // declared here); an unspecified distribution plans NO exchange,
  // and the per-partition event_id sort keeps the format's
  // within-shard order contract intact.
  override def requiredDistribution(): Distribution =
    if (preservePartitioning) Distributions.unspecified()
    else if (buckets.isDefined)
      Distributions.clustered(Array(Expressions.column("ub")))
    else Distributions.ordered(byEventId)
  override def requiredOrdering(): Array[SortOrder] =
    if (buckets.isDefined) byBucketThenEventId else byEventId
  // `.option("shards", n)` pins the shard count; the default 0 lets
  // the planner (and AQE coalescing) size the exchange — a tiny
  // write legitimately lands in one shard, a 100 TB one in thousands
  override def requiredNumPartitions(): Int =
    if (preservePartitioning) 0 else buckets.orElse(shards).getOrElse(0)
  override def toBatch: BatchWrite =
    new GraftLogBatchWrite(path, buckets, ext)

  /** Structured Streaming sink: `df.writeStream.format(...)` into the
    * connector — micro-batches land as exactly-once epoch commits
    * ([[GraftLog.commitStreamEpoch]]): tasks stage hidden tmps, the
    * epoch commit publishes them through ONE pure-append swap
    * manifest carrying the epoch's idempotence marker, so a replayed
    * batch after a crash is detected and dropped, and a crash
    * mid-publish is completed by the next reader's roll-forward.
    * The write's RequiresDistributionAndOrdering applies per
    * micro-batch, so each epoch's shards stay event_id-clustered with
    * disjoint sidecar ranges — streaming ingest keeps the same
    * pruning power as batch ingest. Bucketed layouts are refused
    * (their whole-bucket-per-task contract needs a planned global
    * clustering the per-batch stream cannot guarantee across epochs). */
  override def toStreaming: org.apache.spark.sql.connector.write
      .streaming.StreamingWrite = {
    require(buckets.isEmpty,
      s"graftlog streaming writes into a bucketed table are not " +
        s"supported ($path)")
    new GraftLogStreamingWrite(path,
      queryId.getOrElse(throw new IllegalStateException(
        "streaming write without a query id")), ext)
  }
  override def description(): String = s"graftlog write $path"
}

class GraftLogStreamingWrite(path: String, queryId: String,
    ext: Seq[DataType])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    new GraftLogStreamingWriterFactory(path, ext,
      GraftLog.writeConstraintsFor(path, bucketed = false))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    GraftLog.commitStreamEpoch(path, queryId, epochId,
      GraftLogSwapCommit.pending(messages))
    // keep existing secondary indexes current across the append
    // stream: each epoch incrementally indexes ONLY its own new
    // shards (O(epoch bytes) — see buildIndexIncremental), so a
    // steady-append table never degrades to unprunable while waiting
    // for a manual rebuild. Off-switch for latency-critical sinks.
    // DEFENSIVE: maintenance must never fail the epoch — it is
    // already durably committed above. That guard covers the session
    // lookup itself too (a commit thread with no active session must
    // skip maintenance, not kill the stream), any stale (col, kind)
    // pair (index files predating a DDL, or any future invalidation
    // this listing can race), and the incremental pass proper; the
    // table stays correct-but-unpruned until rebuilt.
    try {
      val spark = org.apache.spark.sql.SparkSession.active
      if (spark.conf.get("spark.graft.index.maintainOnCommit", "true")
          .toBoolean) {
        // skip columns a DDL has since removed/renamed: their files
        // are vacuum-reclaimed orphans — maintaining them would just
        // throw-and-log EVERY epoch until then
        // bucket columns included: the live-set definition must agree
        // with sweepOrphanIndexFiles' (vacuum keeps these files as
        // live, so skipping them here would silently stop maintaining
        // an index on the bucket column of a streaming-written
        // bucketed table — correct-but-unpruned every epoch)
        val live = GraftLog.schema.fieldNames.toSet ++
          GraftLog.bucketedSchema.fieldNames ++
          GraftLog.extSchema(path).map(_.name)
        GraftLog.indexKinds(path)
          .filter { case (col, _) => live.contains(col) }
          .foreach { case (col, kind) =>
            try GraftLog.buildIndexIncremental(spark, path, col, kind)
            catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"[graftlog] per-epoch index " +
                  s"maintenance skipped for ($col, $kind) on $path: " +
                  s"${e.getMessage}")
            }
          }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graftlog] per-epoch index maintenance " +
          s"skipped on $path: ${e.getMessage}")
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftLogSwapCommit.abort(path, messages)
}

class GraftLogStreamingWriterFactory(path: String, ext: Seq[DataType],
    constraints: Seq[GraftLog.Constraint] = Nil)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftLogWriter(path, partitionId, taskId,
      pending = true, ext = ext, constraints = constraints)
}

class GraftLogBatchWrite(path: String, buckets: Option[Int] = None,
    ext: Seq[DataType] = Nil)
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    // tasks stage hidden tmps only; names are assigned at JOB commit
    new GraftLogWriterFactory(path, buckets, 0, pending = true, ext = ext,
      constraints =
        GraftLog.writeConstraintsFor(path, buckets.isDefined))
  }
  // JOB-commit publishing (r12): tasks stage hidden tmps (invisible
  // to every reader — they match neither *.graftlog nor the streaming
  // poll); this commit claims the index range and links the shards in
  // ascending order under the per-path lock, which is what keeps
  // snapshot-token COUNT-prefixes well-defined under concurrent
  // appends (see GraftLog.publishAppend) — and makes a batch append
  // all-or-nothing: a job that dies before this point leaves no
  // partial shards.
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftLog.publishAppend(path, GraftLogSwapCommit.pending(messages))
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSwapCommit.abort(path, messages)
}

/** Copy-on-write row-level operations (SQL UPDATE / MERGE INTO, and
  * the DELETE fallback for conditions that do not fold to an
  * event_id range): Spark's group-based rewrite reads the AFFECTED
  * groups through [[newScanBuilder]] — the same sidecar pruning as
  * any scan, so a selective condition touches few shards; unlike a
  * plain read, the rewrite scan (`wholeShards`) keeps even its key
  * bounds as residuals and returns every row of each planned shard,
  * which is the whole-group contract the swap relies on (shard
  * pruning is the only effect of pushdown) — computes the replacement
  * rows, and commits them through [[GraftLogReplaceBatchWrite]],
  * which swaps exactly the scanned shards for the newly written
  * ones. Replacement shards inherit the ingest write's ordered
  * distribution (RequiresDistributionAndOrdering via the parent
  * [[GraftLogWrite]]), so pruning stays sharp after an UPDATE/MERGE.
  * Commit is ATOMIC via the swap manifest ([[GraftLog.commitSwap]]):
  * replacement shards stay hidden tmps until the manifest lands, and
  * the manifest retires the scanned groups in the same rename — no
  * reader can see both generations (duplicates) or neither. */
class GraftLogRowLevelOperation(path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  /** Shard files the rewrite scan planned = the groups commit swaps.
    * Set at planInputPartitions (driver side, before any write task
    * runs); assignment (not append) tolerates AQE re-planning. */
  @volatile private[sources] var affected: Option[Seq[String]] = None
  /** Structural generation at scan-builder creation — the optimistic
    * read stamp the commit validates (a structural writer landing
    * between this read and the swap would make the computed
    * replacement rows stale; the commit then fails loudly instead of
    * committing a lost update). Conservative: captured BEFORE the
    * listing, so a racer in the plan window can only cause a spurious
    * abort, never a silent stale commit. */
  @volatile private[sources] var planGen: Option[Long] = None
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    planGen = Some(GraftLog.generation(path))
    new GraftLogScanBuilder(path,
      StructType(GraftLog.schema.fields ++ GraftLog.extSchema(path)),
      onPlan = files => affected = Some(files), wholeShards = true)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftLogReplaceWrite(path,
        info.schema(),
        () => affected.getOrElse(throw new IllegalStateException(
          "replace-write commit before the rewrite scan planned")),
        () => planGen)
    }
  override def description(): String = s"graftlog $cmd $path"
}

class GraftLogReplaceWrite(path: String, writeSchema: StructType,
    affected: () => Seq[String],
    planGen: () => Option[Long] = () => None)
    extends GraftLogWrite(path) {
  override def toBatch: BatchWrite =
    new GraftLogReplaceBatchWrite(path, writeSchema, affected, planGen)
  override def description(): String = s"graftlog replace $path"
}

/** Delta-based (merge-on-read) MERGE INTO — the default route for
  * `MERGE INTO glog.t` on unbucketed tables (Spark plans `WriteDelta`
  * instead of the group-based `ReplaceData` whenever the operation
  * implements `SupportsDelta`). Instead of rewriting every matched
  * shard group, the write emits per-ROW deltas: updates split into
  * delete+insert (`representUpdateAsDeleteAndInsert`), deletes carry
  * the rowId (`event_id`) plus the `_shard` metadata column pinning
  * the exact serving shard, and inserts are plain rows. Tasks stage
  * the pieces; [[GraftLog.commitDeltaMerge]] lands everything as ONE
  * atomic swap, routing each touched shard between a deletion-vector
  * sidecar (sparse) and an in-place rewrite (dense) at the measured
  * suppression fraction — see its scaladoc for the economics. Forced
  * back to copy-on-write with `spark.graft.merge.mode=cow`. */
class GraftLogDeltaOperation(path: String,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {
  /** Optimistic read stamp (see [[GraftLogRowLevelOperation.planGen]]):
    * captured before the merge scan lists, validated at the delta
    * commit — a structural writer landing in between aborts the merge
    * loudly instead of suppressing the wrong row versions. */
  @volatile private[sources] var planGen: Option[Long] = None
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    planGen = Some(GraftLog.generation(path))
    new GraftLogScanBuilder(path,
      StructType(GraftLog.schema.fields ++ GraftLog.extSchema(path)),
      wholeShards = true)
  }
  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftLogDeltaWrite(path, () => planGen)
    }
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("event_id"))
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_shard"))
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def description(): String = s"graftlog delta $cmd $path"
}

class GraftLogDeltaWrite(path: String,
    planGen: () => Option[Long] = () => None) extends DeltaWrite {
  override def toBatch: DeltaBatchWrite =
    new GraftLogDeltaBatchWrite(path, planGen)
  override def description(): String = s"graftlog delta merge $path"
}

class GraftLogDeltaBatchWrite(path: String,
    planGen: () => Option[Long] = () => None) extends DeltaBatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    Files.createDirectories(Paths.get(path))
    // delta shards get claimed indices past every existing shard —
    // same discipline as the CoW replace write
    new GraftLogDeltaWriterFactory(path,
      GraftLog.claimShardIndices(path, info.numPartitions()),
      GraftLog.extWriteSlots(path), // physical slots for line render
      // a MERGE must not land what an insert could not
      GraftLog.writeConstraintsFor(path, bucketed = false),
      // per-task in-heap insert cap before sorted-run spilling —
      // resolved on the DRIVER (executors have no session), and
      // validated HERE so a bad conf fails the job loudly instead
      // of spilling one run per row on every executor
      {
        val n = org.apache.spark.sql.SparkSession.active.conf
          .get("spark.graft.merge.delta.spillRowsPerTask",
            GraftLog.DeltaSpillRowsDefault.toString).toInt
        require(n > 0,
          "spark.graft.merge.delta.spillRowsPerTask must be positive" +
            s", got $n")
        n
      })
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: GraftLogDeltaCommitMessage => m }
    GraftLog.commitDeltaMerge(path,
      ms.flatMap(_.shard).toSeq, ms.flatMap(_.dvStage).toSeq,
      expectGen = planGen())
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftLogDeltaCommitMessage(shard, dv) =>
        shard.foreach(s => Files.deleteIfExists(Paths.get(path, s._1)))
        dv.foreach(f => Files.deleteIfExists(Paths.get(path, f)))
      case _ => ()
    }
}

class GraftLogDeltaWriterFactory(path: String, baseIndex: Int,
    ext: Seq[DataType], constraints: Seq[GraftLog.Constraint],
    spillRows: Int = GraftLog.DeltaSpillRowsDefault)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new GraftLogDeltaWriter(path, baseIndex + partitionId, taskId,
      ext, constraints, spillRows)
}

/** One task's staged delta-merge pieces: `shard` = (hidden tmp,
  * claimed final name, sidecar meta) of the delta shard holding this
  * task's inserted/updated rows (None if the task wrote none);
  * `dvStage` = hidden tmp of this task's `shardName|event_id`
  * suppression lines (None if it deleted none). */
case class GraftLogDeltaCommitMessage(
    shard: Option[(String, String, String)],
    dvStage: Option[String]) extends WriterCommitMessage

/** Task-side writer of the delta-based MERGE. Deletes stream straight
  * to the dv-stage tmp (no buffering); inserts — and the insert half
  * of split updates — buffer as rendered lines and land as ONE
  * event_id-sorted delta shard at task commit, keeping the format's
  * within-shard order contract without requiring a planned exchange.
  * Memory bound: the buffer holds only this task's NEW rows — the
  * selective-merge regime this path exists for — and is HARD-CAPPED
  * at `spillRows`: an insert-heavy bulk merge (merge-on-read is the
  * default route, so nothing stops one) spills event_id-sorted runs
  * to hidden tmps and k-way-merges them into the final shard at task
  * commit, so heap stays O(spillRows × line) however many rows the
  * task inserts. */
class GraftLogDeltaWriter(dir: String, idx: Int, taskId: Long,
    ext: Seq[DataType], constraints: Seq[GraftLog.Constraint],
    spillRows: Int = GraftLog.DeltaSpillRowsDefault)
    extends DeltaWriter[InternalRow] {
  private val extTypes = ext.toArray
  private val stem = f"shard-$idx%05d"
  private val rowTmp = Paths.get(dir, f".$stem-$taskId.tmp")
  private val dvTmp = Paths.get(dir, f".dvstage-$idx%05d-$taskId.tmp")
  private var dvOut: java.io.BufferedWriter = _
  private val rows =
    scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
  private var checks:
    Array[(String, String,
      org.apache.spark.sql.catalyst.expressions.BasePredicate)] = _
  private var plausible = false

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (dvOut == null)
      dvOut = Files.newBufferedWriter(dvTmp, StandardCharsets.UTF_8)
    dvOut.write(meta.getUTF8String(0).toString)
    dvOut.write('|')
    dvOut.write(java.lang.Long.toString(id.getLong(0)))
    dvOut.write('\n')
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new IllegalStateException(
      "graftlog delta merge represents updates as delete+insert " +
        "(representUpdateAsDeleteAndInsert) — update() must not be " +
        "called")

  override def insert(row: InternalRow): Unit = {
    if (!plausible) {
      // same loud guard as the CoW replace writer: a changed
      // projection layout must fail, not write a corrupt shard
      val ts = row.getLong(1)
      require(row.getLong(0) >= 0L && ts >= 0L &&
        ts < 4102444800000000L,
        "delta-merge insert row reads implausible event_id/ts — the " +
          "WriteDelta projection layout has changed; refusing to " +
          "write a corrupt shard")
      plausible = true
    }
    if (constraints.nonEmpty) {
      if (checks == null)
        checks = constraints.map { case (nm, sql, e) =>
          (nm, sql,
            org.apache.spark.sql.catalyst.expressions.Predicate
              .create(e))
        }.toArray
      var ci = 0
      while (ci < checks.length) {
        if (!checks(ci)._3.eval(row))
          throw new IllegalArgumentException(
            s"graftlog CHECK constraint '${checks(ci)._1}' violated " +
              s"by merged row event_id=${row.getLong(0)}: " +
              s"(${checks(ci)._2}) is false — the merge is aborted, " +
              "nothing was committed")
        ci += 1
      }
    }
    rows += ((row.getLong(0), GraftLog.renderLine(row, 0, extTypes)))
    if (rows.length >= spillRows) spillRun()
  }

  /** Sorted-run spill: the in-heap buffer lands as one event_id-
    * sorted hidden run file and is released. Runs are merged at
    * [[commit]]; a pure-heap task (the common selective merge)
    * never spills and keeps the single-sort fast path. Open-file
    * bound: once [[MaxOpenRuns]] runs accumulate they collapse into
    * ONE merged run, so the k-way merge never holds more than that
    * many readers however small `spillRows` is — a tiny conf value
    * costs extra merge passes, never file descriptors. */
  private val MaxOpenRuns = 64
  private var runSeq = 0
  private val runFiles =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  private def spillRun(): Unit = {
    val sorted = rows.sortInPlaceBy(_._1)
    runSeq += 1
    val run = Paths.get(dir, f".$stem-$taskId.run$runSeq.tmp")
    val out = Files.newBufferedWriter(run, StandardCharsets.UTF_8)
    try sorted.foreach { case (_, line) =>
      out.write(line); out.write('\n')
    } finally out.close()
    runFiles += run
    rows.clear()
    if (runFiles.size >= MaxOpenRuns) {
      runSeq += 1
      val merged = Paths.get(dir, f".$stem-$taskId.run$runSeq.tmp")
      mergeRuns(runFiles.toSeq, merged)
      runFiles.foreach(Files.deleteIfExists(_))
      runFiles.clear()
      runFiles += merged
    }
  }

  /** K-way streaming merge of event_id-sorted line files into `out`;
    * heap holds one line per source. Returns (first, last, count). */
  private def mergeRuns(sources: Seq[java.nio.file.Path],
      out: java.nio.file.Path): (Long, Long, Long) = {
    val readers = sources.map(r =>
      Files.newBufferedReader(r, StandardCharsets.UTF_8))
    try {
      val heads = new Array[String](readers.length)
      def advance(i: Int): Unit = {
        var l = readers(i).readLine()
        while (l != null && l.isEmpty) l = readers(i).readLine()
        heads(i) = l
      }
      readers.indices.foreach(advance)
      def idOf(l: String): Long = l.substring(0, l.indexOf('|')).toLong
      val w = Files.newBufferedWriter(out, StandardCharsets.UTF_8)
      var first = Long.MaxValue
      var last = Long.MinValue
      var count = 0L
      try {
        var more = true
        while (more) {
          var best = -1
          var bestId = Long.MaxValue
          var i = 0
          while (i < heads.length) {
            if (heads(i) != null) {
              val id = idOf(heads(i))
              if (best < 0 || id < bestId) { best = i; bestId = id }
            }
            i += 1
          }
          if (best < 0) more = false
          else {
            w.write(heads(best)); w.write('\n')
            if (bestId < first) first = bestId
            last = bestId
            count += 1L
            advance(best)
          }
        }
      } finally w.close()
      (first, last, count)
    } finally readers.foreach(r =>
      try r.close() catch { case _: java.io.IOException => () })
  }

  override def commit(): WriterCommitMessage = {
    if (dvOut != null) dvOut.close()
    val shard =
      if (rows.isEmpty && runFiles.isEmpty) {
        Files.deleteIfExists(rowTmp); None
      } else if (runFiles.isEmpty) {
        val sorted = rows.sortInPlaceBy(_._1)
        val out = Files.newBufferedWriter(rowTmp, StandardCharsets.UTF_8)
        try sorted.foreach { case (_, line) =>
          out.write(line); out.write('\n')
        } finally out.close()
        Some((rowTmp.getFileName.toString, s"$stem.graftlog",
          s"${sorted.head._1}|${sorted.last._1}|${sorted.size}"))
      } else {
        if (rows.nonEmpty) spillRun()
        // final k-way merge of the (bounded-count) sorted runs into
        // the staged shard; heap holds one line per run
        try {
          val (first, last, count) = mergeRuns(runFiles.toSeq, rowTmp)
          Some((rowTmp.getFileName.toString, s"$stem.graftlog",
            s"$first|$last|$count"))
        } finally runFiles.foreach(Files.deleteIfExists(_))
      }
    GraftLogDeltaCommitMessage(shard,
      if (dvOut != null) Some(dvTmp.getFileName.toString) else None)
  }

  override def abort(): Unit = {
    if (dvOut != null) dvOut.close()
    Files.deleteIfExists(rowTmp)
    Files.deleteIfExists(dvTmp)
    runFiles.foreach(Files.deleteIfExists(_))
  }

  override def close(): Unit = ()
}

/** Full-table overwrite: the new generation (shard indices past
  * every existing one) stays hidden until the swap manifest lands,
  * which retires the pre-existing snapshot in the same atomic
  * rename. */
class GraftLogTruncateWrite(path: String, shards: Option[Int],
    buckets: Option[Int], ext: Seq[DataType] = Nil)
    extends GraftLogWrite(path, shards, buckets, ext) {
  override def toBatch: BatchWrite =
    new GraftLogOverwriteBatchWrite(path, buckets, ext)
  override def description(): String = s"graftlog overwrite $path"
}

/** Shared by the overwrite/replace batch writes: flatten commit
  * messages to the deferred (tmp, final, meta) promote entries, and
  * clean deferred tmps up on abort. */
private object GraftLogSwapCommit {
  def promotes(messages: Array[WriterCommitMessage])
      : Seq[(String, String, String)] = {
    def walk(m: WriterCommitMessage): Seq[(String, String, String)] =
      m match {
        case GraftLogDeferredCommitMessage(tmp, fin, meta) =>
          Seq((tmp, fin, meta))
        case GraftLogBucketedCommitMessage(ms) => ms.flatMap(walk)
        case _ => Nil
      }
    messages.toSeq.flatMap(walk)
  }
  def pending(messages: Array[WriterCommitMessage])
      : Seq[(String, String, Option[Long])] = {
    def walk(m: WriterCommitMessage): Seq[(String, String, Option[Long])] =
      m match {
        case GraftLogPendingCommitMessage(tmp, meta, ub) =>
          Seq((tmp, meta, ub))
        case GraftLogBucketedCommitMessage(ms) => ms.flatMap(walk)
        case _ => Nil
      }
    messages.toSeq.flatMap(walk)
  }
  def abort(path: String, messages: Array[WriterCommitMessage]): Unit = {
    def drop(m: WriterCommitMessage): Unit = m match {
      case GraftLogDeferredCommitMessage(tmp, _, _) =>
        Files.deleteIfExists(Paths.get(path, tmp))
      case GraftLogPendingCommitMessage(tmp, _, _) =>
        Files.deleteIfExists(Paths.get(path, tmp))
      case GraftLogCommitMessage(file, n, _, _) if n > 0L =>
        Files.deleteIfExists(Paths.get(file))
        Files.deleteIfExists(
          Paths.get(file.stripSuffix(".graftlog") + ".meta"))
      case GraftLogBucketedCommitMessage(ms) => ms.foreach(drop)
      case _ => ()
    }
    messages.foreach(drop)
  }
}

class GraftLogOverwriteBatchWrite(path: String, buckets: Option[Int],
    ext: Seq[DataType] = Nil)
    extends BatchWrite {
  @volatile private var existing: Seq[String] = Nil
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    existing = GraftLog.listShards(path).map(_.file)
    new GraftLogWriterFactory(path, buckets,
      GraftLog.claimShardIndices(path, info.numPartitions()),
      defer = true, ext = ext,
      constraints =
        GraftLog.writeConstraintsFor(path, buckets.isDefined))
  }
  // atomic: new-generation shards are hidden tmps until the swap
  // manifest lands; a reader can never see old+new together or neither
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftLog.commitSwap(path, existing,
      GraftLogSwapCommit.promotes(messages))
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSwapCommit.abort(path, messages)
}

class GraftLogReplaceBatchWrite(path: String, writeSchema: StructType,
    affected: () => Seq[String],
    planGen: () => Option[Long] = () => None) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    // numbering past every existing shard: replacements can never
    // collide with the group files they are about to supersede.
    // markerOffset: Spark's group-based rewrite prepends metadata
    // columns (the __row_operation marker) to each replacement row
    // while LogicalWriteInfo.schema() still reports the bare table
    // schema — the writer skips the leading extras by observed row
    // width (numFields - 5), with a first-row plausibility assertion
    // so a changed metadata layout fails loudly instead of writing
    // garbage; the UPDATE/MERGE specs pin exact round-tripped values
    new GraftLogWriterFactory(path, None,
      GraftLog.claimShardIndices(path, info.numPartitions()),
      markerOffset = true, defer = true,
      ext = GraftLog.extWriteSlots(path), // physical slots
      // UPDATE/MERGE must not be able to break the contract an
      // insert cannot: the CoW replacement rows are gated too
      constraints = GraftLog.writeConstraintsFor(path, bucketed = false))
  }
  // atomic: replacement shards stay hidden until the swap manifest
  // lands, which retires the scanned groups in the same commit
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dropped = affected()
    // validate the plan-time generation: replacement rows were
    // computed against that snapshot and cannot be recomputed here —
    // a concurrent structural writer means abort, not retry
    GraftLog.commitSwap(path, dropped,
      GraftLogSwapCommit.promotes(messages), expectGen = planGen())
    dropped.foreach(_ => GraftLog.groupsReplaced.incrementAndGet())
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogSwapCommit.abort(path, messages)
}

class GraftLogWriterFactory(path: String, buckets: Option[Int] = None,
    baseIndex: Int = 0,
    markerOffset: Boolean = false,
    defer: Boolean = false,
    pending: Boolean = false,
    ext: Seq[DataType] = Nil,
    constraints: Seq[GraftLog.Constraint] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = buckets match {
    case Some(n) =>
      new GraftLogBucketedWriter(path, baseIndex + partitionId, taskId, n,
        defer = defer, pending = pending, constraints = constraints)
    case None =>
      new GraftLogWriter(path, baseIndex + partitionId, taskId,
        markerOffset = markerOffset, defer = defer, pending = pending,
        ext = ext, constraints = constraints)
  }
}

case class GraftLogCommitMessage(file: String, rows: Long,
    min: Long, max: Long) extends WriterCommitMessage

/** A deferred (swap-committed) shard: still a hidden tmp at task
  * commit; promoted to `finalName` only when the job-level swap
  * manifest lands. `meta` is the full sidecar body (min|max|rows[|ub])
  * the manifest will write. */
case class GraftLogDeferredCommitMessage(tmpName: String,
    finalName: String, meta: String) extends WriterCommitMessage

/** An append-staged shard awaiting its NAME: still a hidden tmp at
  * task commit; the job commit claims the index range and links it in
  * ([[GraftLog.publishAppend]] — names must become visible in
  * ascending order for count-prefix snapshot tokens to stay stable). */
case class GraftLogPendingCommitMessage(tmpName: String,
    meta: String, ub: Option[Long]) extends WriterCommitMessage

/** One shard + sidecar per non-empty partition. Data lands in a
  * hidden `.tmp` (invisible to both batch listing and the streaming
  * source's shard poll — neither matches `*.graftlog`), then task
  * commit atomically renames shard BEFORE writing the sidecar: a
  * crash between the two leaves a readable, merely unprunable shard,
  * never a torn or half-visible one. Min/max/count accumulate while
  * writing — stats cost nothing extra. */
class GraftLogWriter(dir: String, pid: Int, taskId: Long,
    shardUb: Option[Long] = None,
    markerOffset: Boolean = false,
    defer: Boolean = false,
    pending: Boolean = false,
    ext: Seq[DataType] = Nil,
    constraints: Seq[GraftLog.Constraint] = Nil)
    extends DataWriter[InternalRow] {
  // `ext` is the PHYSICAL slot layout (null = tombstone); the arriving
  // row carries only the live columns
  private val extTypes = ext.toArray
  private val width = 5 + extTypes.count(_ != null)
  // CHECK enforcement: compiled once per writer on first row (the
  // replace-write's metadata-column offset is only known then —
  // bound ordinals shift by it); one predicate call per row after
  private var checks:
    Array[(String, String,
      org.apache.spark.sql.catalyst.expressions.BasePredicate)] = _
  // one shard per (partition, bucket) under a bucketed layout — the
  // bucket lands whole in one partition, so the name stays unique
  private val stem = shardUb.fold(f"shard-$pid%05d")(u =>
    f"shard-$pid%05d-b$u%05d")
  private val tmp = Paths.get(dir, f".$stem-$taskId.tmp")
  private val out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
  private var n = 0L
  private var mn = Long.MaxValue
  private var mx = Long.MinValue
  private var offsetChecked = false

  override def write(r: InternalRow): Unit = {
    // copy-on-write replacement rows prepend metadata columns (the
    // __row_operation marker) ahead of the format columns; skip
    // them by observed row width — see GraftLogReplaceBatchWrite
    val o = if (markerOffset) r.numFields - width else 0
    if (markerOffset && !offsetChecked) {
      // a Spark version that APPENDED metadata columns (or reordered
      // them) would make the width-based offset point into metadata —
      // silent corruption (ts micros written into event_id). Fail
      // loudly instead: the first row's inferred event_id/ts must be
      // plausible (non-negative id; ts within [epoch, 2100) micros).
      val ts = r.getLong(o + 1)
      require(r.getLong(o) >= 0L && ts >= 0L && ts < 4102444800000000L,
        s"replace-write column offset $o (numFields=${r.numFields}) " +
          "reads implausible event_id/ts values — the metadata-column " +
          "layout of the row-level rewrite has changed; refusing to " +
          "write a corrupt shard")
      offsetChecked = true
    }
    if (constraints.nonEmpty) {
      if (checks == null)
        checks = constraints.map { case (nm, sql, e) =>
          val shifted = if (o == 0) e else e.transform {
            case b: org.apache.spark.sql.catalyst.expressions
                .BoundReference => b.copy(ordinal = b.ordinal + o)
          }
          (nm, sql,
            org.apache.spark.sql.catalyst.expressions.Predicate
              .create(shifted))
        }.toArray
      var ci = 0
      while (ci < checks.length) {
        if (!checks(ci)._3.eval(r))
          throw new IllegalArgumentException(
            s"graftlog CHECK constraint '${checks(ci)._1}' violated " +
              s"by row event_id=${r.getLong(o)}: (${checks(ci)._2}) " +
              "is false — the write is aborted, nothing was committed")
        ci += 1
      }
    }
    val id = r.getLong(o)
    // TimestampType's internal representation IS micros-since-epoch —
    // the format's ts_us column, no conversion. ub (bucketed layout)
    // is NOT written per line: it is constant per shard and lives in
    // the sidecar; the reader re-materializes it. Evolved columns
    // append after the five base positions, nulls as the \N token.
    out.write(GraftLog.renderLine(r, o, extTypes))
    out.write('\n')
    if (id < mn) mn = id
    if (id > mx) mx = id
    n += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (n == 0L) {
      Files.deleteIfExists(tmp)
      GraftLogCommitMessage("", 0L, 0L, 0L)
    } else if (pending) {
      // append-staged: the job commit claims indices and links this
      // in — no empty-partition index holes, names visible in order
      GraftLogPendingCommitMessage(tmp.getFileName.toString,
        s"$mn|$mx|$n" + shardUb.fold("")(u => s"|$u"), shardUb)
    } else if (defer) {
      // swap-committed write (CoW replace / overwrite): the shard
      // stays a hidden tmp — invisible to every reader — until the
      // job-level commit lands the swap manifest. The sidecar body
      // rides the commit message so the manifest can write it.
      GraftLogDeferredCommitMessage(tmp.getFileName.toString,
        s"$stem.graftlog",
        s"$mn|$mx|$n" + shardUb.fold("")(u => s"|$u"))
    } else {
      val shard = Paths.get(dir, s"$stem.graftlog")
      // EXCLUSIVE publish: link(2) fails atomically if the name is
      // taken (rename(2) would silently replace on POSIX). Index
      // claims make a collision impossible; if one happens anyway the
      // loud failure here is a broken-invariant report, not data loss.
      Files.createLink(shard, tmp)
      Files.deleteIfExists(tmp)
      GraftLog.writeMetaAtomic(dir, s"$stem.meta",
        s"$mn|$mx|$n" + shardUb.fold("")(u => s"|$u"))
      GraftLogCommitMessage(shard.toString, n, mn, mx)
    }
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(tmp)
  }

  override def close(): Unit = ()
}

/** Bucketed-layout writer: the incoming partition is clustered on ub
  * and sorted (ub, event_id) — both declared by [[GraftLogWrite]] and
  * enforced by Catalyst's planned exchange — so this writer just
  * rolls to a fresh shard whenever ub changes. Every shard is
  * single-bucket; the sidecar's 4th field records the bucket, which
  * is what the scan's KeyGroupedPartitioning is rebuilt from at read.
  * ub is validated against floorMod(user_id, buckets) per row: a
  * wrong bucket column would silently mis-route rows and corrupt
  * every storage-partitioned join over the table. */
class GraftLogBucketedWriter(dir: String, pid: Int, taskId: Long,
    buckets: Int, defer: Boolean = false,
    pending: Boolean = false,
    constraints: Seq[GraftLog.Constraint] = Nil)
    extends DataWriter[InternalRow] {
  private var cur: GraftLogWriter = _
  private var curUb: Long = -1L
  private val done = Seq.newBuilder[WriterCommitMessage]

  override def write(r: InternalRow): Unit = {
    val ub = r.getLong(5)
    require(ub == java.lang.Math.floorMod(r.getLong(2), buckets.toLong),
      s"row with user_id=${r.getLong(2)} carries ub=$ub, " +
        s"expected floorMod(user_id, $buckets)")
    if (cur == null || ub != curUb) {
      if (cur != null) done += cur.commit()
      cur = new GraftLogWriter(dir, pid, taskId, shardUb = Some(ub),
        defer = defer, pending = pending, constraints = constraints)
      curUb = ub
    }
    cur.write(r)
  }

  override def commit(): WriterCommitMessage = {
    val msgs = if (cur == null) done.result()
      else { done += cur.commit(); done.result() }
    GraftLogBucketedCommitMessage(msgs)
  }

  override def abort(): Unit = if (cur != null) cur.abort()
  override def close(): Unit = ()
}

case class GraftLogBucketedCommitMessage(shards: Seq[WriterCommitMessage])
    extends WriterCommitMessage

class GraftLogScanBuilder(path: String,
    tableSchema: StructType = GraftLog.schema,
    maxShardsPerTrigger: Option[Int] = None,
    version: Option[String] = None,
    sinceVersion: Option[String] = None,
    onPlan: Seq[String] => Unit = _ => (),
    changeFeed: Boolean = false,
    maxCommitsPerTrigger: Option[Int] = None,
    ignoreDeletes: Boolean = false,
    wholeShards: Boolean = false) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  if (changeFeed) require(sinceVersion.isDefined,
    "readChangeFeed needs .option(\"sinceVersion\", <token>) — the " +
      "feed is defined between two snapshots (end defaults to the " +
      "current version)")
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var pushedAgg: Option[Seq[AggregateFunc]] = None
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(Boolean, Int)] = None // (ascending, n)

  /** The read's listing and deletion vectors, shared with the scan. */
  private val view = new GraftLog.ReadView(path, sinceVersion, version)

  /** Whether the scan answers its event_id key bounds exactly. A
    * row-level rewrite scan (`wholeShards`) must return every row of
    * each planned shard — the commit swaps whole groups, so a rewrite
    * that read only the matched rows would drop the rest — and a
    * change feed tags rows per shard image; both keep every filter
    * as a residual and use pushdown for shard pruning only. */
  private val exactKeys = !wholeShards && !changeFeed

  /** A deletion vector governing ANY shard this read resolves
    * disables every pushdown that prices shards by sidecar ROW
    * COUNTS: counts are physical, visible rows may be fewer, so a
    * count-based shard selection could under-read a LIMIT and a
    * sidecar-served aggregate would overcount. Range pruning is
    * unaffected (a vector only removes rows — the sidecar bounds
    * stay conservative). Echo-validated against the read's exact
    * shard set at its resolved generation, so a compacted table
    * (vectors physically applied, files moved to the retired store)
    * gets its fast paths back immediately — only reads that actually
    * see a vector pay. The scan plans from the same view, so the set
    * accepted here is the set it reads. */
  private def dvFree: Boolean = view.dvs.isEmpty

  // both parent defaults return true; Scala requires the diamond be
  // resolved explicitly. PARTIAL is the contract here: Spark keeps
  // its own GlobalLimit / TakeOrdered above the scan, so shard
  // selection stays an I/O optimization.
  override def isPartiallyPushed(): Boolean = true

  /** LIMIT pushdown — the "head of the log" I/O cut: with row counts
    * in every sidecar, a LIMIT n needs only the first shards whose
    * counts sum to n (any n rows satisfy an unordered LIMIT), and
    * each opened reader stops emitting after n rows. Declared
    * PARTIAL (`isPartiallyPushed` default true), so Spark keeps its
    * GlobalLimit above the scan and shard selection can never change
    * a result — it is purely "open 1 shard of 40 000". Refused under
    * aggregate pushdown (the agg row is already O(1)) and whenever a
    * filter was pushed: Spark offers a limit once the scan consumed
    * every filter (exact key bounds), but sidecar counts are rows
    * BEFORE the filter, so shard selection would under-read. */
  override def pushLimit(limit: Int): Boolean =
    !changeFeed && pushedAgg.isEmpty && pushed.isEmpty && limit > 0 &&
      dvFree && {
      pushedLimit = Some(limit)
      true
    }

  /** ORDER BY event_id [DESC] LIMIT n pushdown — the manifest-sorted
    * top-k: the format clusters shards on event_id (the write path's
    * RequiresDistributionAndOrdering), so when the sidecar ranges are
    * disjoint the global top-n lives entirely in the first (or last)
    * shards covering n rows. Accepted only for a single sort key on
    * event_id; selection itself happens at plan time, where
    * disjointness is verified against the sidecars — if an appended
    * log has overlapping ranges the scan silently reads everything
    * instead (partial pushdown: Spark's TakeOrderedAndProject above
    * the scan makes selection an I/O optimization, never semantics).
    * Refused after a filter was pushed, for the same reason as
    * [[pushLimit]]. */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean =
    !changeFeed && pushedAgg.isEmpty && pushed.isEmpty && limit > 0 &&
      dvFree && orders.length == 1 && {
      orders(0).expression() match {
        case n: NamedReference if n.fieldNames.sameElements(Array("event_id")) =>
          pushedTopN =
            Some((orders(0).direction() == SortDirection.ASCENDING, limit))
          true
        case _ => false
      }
    }

  /** Accept comparisons on event_id (sidecar ranges) and on any
    * column carrying a secondary index (`_index/` — see
    * [[GraftLog.buildIndex]]) for shard pruning. Key bounds
    * ([[GraftLog.isKeyBound]]) are answered EXACTLY — the readers
    * drop every line outside the interval — so they are not returned
    * and Spark plans no Filter for them: the generated code then
    * carries no key literal, and one compiled class serves every
    * lookup. A lookup of one key whose planned shards fit the
    * broadcast budget is then read on the driver ([[build]]).
    * Everything else (OR, IN, IsNotNull, non-Long values, indexed
    * non-key columns) stays a residual that Spark re-applies
    * row-level, as does every filter of a rewrite or change-feed
    * scan (see `exactKeys`). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    lazy val idxCols = GraftLog.indexedColumns(path)
    pushed = filters.filter(f => GraftLog.filterAttr(f).exists(c =>
      c == "event_id" || idxCols(c)))
    if (exactKeys) filters.filterNot(GraftLog.isKeyBound) else filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown — the metadata-only query: a global
    * COUNT(*)/MIN(event_id)/MAX(event_id) is answered from the
    * `.meta` sidecars alone, ZERO shards opened (parquet's
    * footer-stats trick at the DSv2 seam; at 100 TB that is the
    * difference between a manifest read and a full scan). Accepted
    * only when it is safe to serve from stats:
    *
    *  - no pushed filters (Spark offers aggregates once the scan
    *    consumed every filter — pure key bounds — but sidecar stats
    *    describe whole shards, not the filtered rows),
    *  - no GROUP BY (sidecars carry no per-group stats),
    *  - every aggregate is COUNT(*) / MIN / MAX of event_id,
    *  - every shard HAS a sidecar (a shard whose writer crashed
    *    between rename and sidecar write is readable but unpriced —
    *    then the scan must refuse and let Spark aggregate rows).
    *
    * `supportCompletePushDown` = the sidecar answer IS the final
    * answer (sidecar counts are exact, shards immutable), so Spark
    * plans no re-aggregation at all — one row out of the scan. */
  private def aggServableFromSidecars(agg: Aggregation): Boolean = {
    def isEventId(f: AggregateFunc): Boolean = f match {
      case m: Min => m.column match {
        case n: NamedReference => n.fieldNames.sameElements(Array("event_id"))
        case _ => false
      }
      case m: Max => m.column match {
        case n: NamedReference => n.fieldNames.sameElements(Array("event_id"))
        case _ => false
      }
      case _ => false
    }
    !changeFeed && pushed.isEmpty && dvFree &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case f => isEventId(f)
      } &&
      // gate on the shards THIS scan will fold — a sidecar-less shard
      // outside a pinned snapshot/delta window must not disable the
      // fast path for a read that never touches it
      view.shards.forall(_.stats.isDefined)
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggServableFromSidecars(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    aggServableFromSidecars(agg) && {
      pushedAgg = Some(agg.aggregateExpressions.toSeq)
      true
    }

  /** The [[GraftLogScan]] for the pushed state — wrapped in a
    * [[GraftLogLocalScan]] when it is a point read within the
    * broadcast budget (see [[readsOnDriver]]), so Spark plans a
    * LocalTableScan and `collect` starts no job; every other read
    * (ranges, aggregates, LIMIT/top-n, bucketed, streaming, rewrite
    * and change-feed scans, point reads past the budget) is the
    * BatchScan itself. */
  override def build(): Scan = {
    val scan = new GraftLogScan(path, view, pushed, exactKeys, required,
      maxShardsPerTrigger, pushedAgg, pushedLimit, pushedTopN, onPlan,
      version, sinceVersion, changeFeed, maxCommitsPerTrigger,
      ignoreDeletes)
    if (readsOnDriver(scan)) new GraftLogLocalScan(scan) else scan
  }

  /** A point read — the scan answers one exact key (`lo == hi`), no
    * aggregate was pushed, and it is no rate-limited stream — whose
    * planned shards' bytes fit `spark.sql.autoBroadcastJoinThreshold`
    * (negative: never) and that reports no key-grouped partitioning
    * a storage-partitioned join could use. Its rows are then at most
    * a broadcast's worth, cheaper to read on the driver than to
    * schedule a job for. */
  private def readsOnDriver(scan: GraftLogScan): Boolean = {
    val budget = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    exactKeys && pushedAgg.isEmpty && maxShardsPerTrigger.isEmpty &&
      budget >= 0 && {
        val (lo, hi) = GraftLog.keyBounds(pushed)
        lo == hi
      } &&
      scan.outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning] &&
      scan.estimateStatistics().sizeInBytes().getAsLong <= budget
  }
}

/** A point read answered on the driver: Spark's DataSourceV2Strategy
  * plans a LocalTableScanExec over [[rows]], so `collect` returns
  * them with no job, no task and no closure cleaning. The rows are
  * the wrapped scan's own — its planned partitions (`onPlan` fires)
  * through its reader factory, so the key interval, the deletion
  * vectors at the view's generation and a pinned version's schema
  * apply exactly as on an executor — read once per scan. Statistics
  * are the wrapped scan's: without them a V2 relation prices at the
  * conf default, and a point read on one side of a join would stop
  * broadcasting. */
class GraftLogLocalScan(scan: GraftLogScan) extends LocalScan
    with SupportsReportStatistics {
  private lazy val read: Array[InternalRow] = {
    val factory = scan.createReaderFactory()
    scan.planInputPartitions().flatMap { p =>
      val r = factory.createReader(p)
      try {
        val out = Array.newBuilder[InternalRow]
        while (r.next()) out += r.get().copy()
        out.result()
      } finally r.close()
    }
  }
  override def rows(): Array[InternalRow] = read
  override def readSchema(): StructType = scan.readSchema()
  override def estimateStatistics(): Statistics = scan.estimateStatistics()
}

/** Observability at the DSv2 seam: per-task and driver-side custom
  * metrics surfaced into the Spark UI / SQLMetrics — the numbers an
  * operator reads to confirm pruning actually happened on a given
  * run ("read 3 shards, pruned 39 997"), without test-only counters.
  */
object GraftLogMetrics {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

  class ShardsReadMetric extends CustomSumMetric {
    override def name(): String = "shardsRead"
    override def description(): String = "graftlog shards opened"
  }
  class ShardsPrunedMetric extends CustomSumMetric {
    override def name(): String = "shardsPruned"
    override def description(): String =
      "graftlog shards pruned at planning (sidecar stats + selection)"
  }
  case class TaskMetric(metricName: String, v: Long) extends CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
  val supported: Array[CustomMetric] =
    Array(new ShardsReadMetric, new ShardsPrunedMetric)
}

/** `exactKeys`: the builder consumed the key bounds among `pushed`
  * (Spark plans no Filter for them), so the readers must drop every
  * line outside [[bounds]]; otherwise pushed filters only prune. */
class GraftLogScan(path: String, view: GraftLog.ReadView,
    pushed: Array[Filter], exactKeys: Boolean,
    required: StructType, maxShardsPerTrigger: Option[Int] = None,
    pushedAgg: Option[Seq[AggregateFunc]] = None,
    limit: Option[Int] = None,
    topN: Option[(Boolean, Int)] = None,
    onPlan: Seq[String] => Unit = _ => (),
    version: Option[String] = None,
    sinceVersion: Option[String] = None,
    changeFeed: Boolean = false,
    maxCommitsPerTrigger: Option[Int] = None,
    ignoreDeletes: Boolean = false)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning with SupportsReportOrdering {

  /** Change-feed shard set, resolved ONCE at scan construction (the
    * same plan-time listing every scan pays): (file, insert|delete,
    * dv) per touched shard — the feed opens only these, never the
    * table. */
  private lazy val changes: Seq[(String, String, Option[GraftLog.DvRef])] =
    GraftLog.changeSet(path, sinceVersion.get, version)

  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    GraftLogMetrics.supported

  /** Planning-time pruning accounting: everything listed minus
    * everything planned (static bounds, runtime ids, limit/top-n
    * shard selection — all of it is pruning). */
  override def reportDriverMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    if (changeFeed)
      return Array(GraftLogMetrics.TaskMetric("shardsPruned", 0L))
    val total = view.shards.size
    val planned =
      if (pushedAgg.isDefined) 0
      else bucketGroups match {
        case Some(gs) => gs.map(_._2.size).sum
        case None => selectedShards.size
      }
    Array(GraftLogMetrics.TaskMetric("shardsPruned",
      math.max(0, total - planned).toLong))
  }
  override def readSchema(): StructType = pushedAgg match {
    // complete aggregate pushdown: the scan's output IS the final
    // aggregated row — count(*) is long, min/max(event_id) are long
    case Some(aggs) => StructType(aggs.zipWithIndex.map { case (a, i) =>
      StructField(s"agg_$i", LongType, nullable = !a.isInstanceOf[CountStar])
    })
    case None => required
  }
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    if (changeFeed)
      new GraftLogChangeFeedStream(path, required, sinceVersion.get,
        maxCommitsPerTrigger)
    else new GraftLogMicroBatchStream(path, required, maxShardsPerTrigger,
      ignoreDeletes)
  override def description(): String =
    s"graftlog $path pushed=[${pushed.mkString(",")}] " +
      s"cols=[${required.fieldNames.mkString(",")}]" +
      pushedAgg.fold("")(a => s" PushedAggregates=[${a.mkString(",")}]") +
      limit.fold("")(n => s" PushedLimit=$n") +
      topN.fold("") { case (asc, n) =>
        s" PushedTopN=[event_id ${if (asc) "ASC" else "DESC"} LIMIT $n]"
      }

  /** Runtime filter delivered mid-query (AQE dynamic pruning): the
    * exact event_id set the join's build side produced. Shards whose
    * sidecar range contains none of the values are skipped at
    * executed-stage planning — the DSv2 analog of dynamic partition
    * pruning, driven by the SAME sidecar stats as static pruning. */
  private var runtimeIds: Option[Array[Long]] = None

  override def filterAttributes(): Array[NamedReference] =
    // only offer the runtime-filter column if it survived pruning —
    // Spark resolves these against the scan OUTPUT, so declaring a
    // pruned column is an analysis error, not a no-op
    if (required.fieldNames.contains("event_id"))
      Array(Expressions.column("event_id"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("event_id", vs) =>
      val ids = vs.collect { case l: Long => l }.sorted
      // intersect with any earlier runtime filter (defensive; Spark
      // sends one batch per scan today)
      runtimeIds = Some(runtimeIds.fold(ids)(_.intersect(ids)))
    case _ => () // unsupported runtime filter shapes: no pruning
  }

  /** The pushed event_id interval [lo, hi] (inclusive; lo > hi is
    * empty). */
  private lazy val bounds: (Long, Long) = GraftLog.keyBounds(pushed)

  /** Shards surviving static bounds + secondary indexes, computed once
    * per scan. A shard without a sidecar can never be pruned by its
    * range (only an empty interval drops it); a shard whose index is
    * stale (echo mismatch after an in-place rewrite) keeps scanning —
    * the index only ever REMOVES provably-empty work, and indexed
    * filters stay residuals. */
  private lazy val staticLive: Seq[GraftLog.ShardInfo] = {
    val (lo, hi) = bounds
    if (lo > hi) Nil
    else {
      // pushed filters on indexed columns: load + validate each
      // column's index map once per scan (O(#shards) small reads —
      // the cost class the sidecar listing already pays)
      val idxFilters = pushed.toSeq.flatMap(f =>
        GraftLog.filterAttr(f).filter(_ != "event_id").map(c => (c, f)))
      val idxByCol: Map[String, Map[String, GraftLog.ShardIndex]] =
        idxFilters.map(_._1).distinct
          .map(c => c -> GraftLog.loadIndexes(path, c, view.shards)).toMap
      view.shards.filter { s =>
        val name = Paths.get(s.file).getFileName.toString
        val idxKeeps = !idxFilters.exists { case (c, f) =>
          idxByCol(c).get(name).exists(GraftLog.idxProvesAbsent(_, f))
        }
        idxKeeps && s.stats.forall { case (mn, mx, _) => mx >= lo && mn <= hi }
      }
    }
  }

  /** [[staticLive]] narrowed by the runtime ids — applied on every
    * call, since `filter` can arrive after the static set is cached. */
  private def liveShards: Seq[GraftLog.ShardInfo] = runtimeIds match {
    case None => staticLive
    case Some(ids) => staticLive.filter(_.stats.forall { case (mn, mx, _) =>
      // any probe id inside [mn, mx]? (ids sorted: binary search)
      val i = java.util.Arrays.binarySearch(ids, mn)
      val from = if (i >= 0) i else -i - 1
      from < ids.length && ids(from) <= mx
    })
  }

  /** Post-pruning size/rows from the sidecars — what makes a
    * selectively-filtered graftlog relation broadcastable: without
    * reported stats a V2 relation prices at the conf default
    * (effectively infinite) and a join that should broadcast plans a
    * shuffle instead. Rows are unknown if any live shard lost its
    * sidecar; bytes are always known (file sizes). */
  override def estimateStatistics(): Statistics = {
    if (changeFeed) {
      val bytes = changes.map(c => GraftLog.ShardInfo(c._1, None).bytes).sum
      return new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }
    val live = liveShards
    val rows: java.util.OptionalLong =
      // sidecar counts are PHYSICAL rows; under deletion vectors the
      // visible count is lower, so report bytes only (numRows is a
      // planner estimate — unknown beats wrong)
      if (live.forall(_.stats.isDefined) && live.forall(view.dvOf(_).isEmpty))
        java.util.OptionalLong.of(live.map(_.stats.get._3).sum)
      else java.util.OptionalLong.empty()
    val bytes = live.map(_.bytes).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  /** True iff every shard has a sidecar and the event_id ranges are
    * pairwise disjoint once ordered by min — the layout property that
    * makes "the top-n lives in the first shards" sound. A log written
    * in one batch through [[GraftLogWrite]]'s ordered distribution has
    * it by construction; a multi-append log may not, and then top-n
    * selection self-disables. */
  private def rangesDisjoint(shards: Seq[GraftLog.ShardInfo]): Boolean =
    shards.forall(_.stats.isDefined) && {
      val sorted = shards.map(_.stats.get).sortBy(_._1)
      sorted.zip(sorted.drop(1)).forall { case ((_, mx, _), (mn2, _, _)) =>
        mx < mn2
      }
    }

  /** First shards of `shards` (already in priority order) whose
    * sidecar row counts cover `n` rows. */
  private def coverRows(shards: Seq[GraftLog.ShardInfo],
      n: Long): Seq[GraftLog.ShardInfo] = {
    var acc = 0L
    val out = Seq.newBuilder[GraftLog.ShardInfo]
    val it = shards.iterator
    while (acc < n && it.hasNext) {
      val s = it.next()
      out += s
      acc += s.stats.fold(Long.MaxValue)(_._3) // no sidecar: unknown → stop
    }
    out.result()
  }

  /** Live shards narrowed by a pushed LIMIT / top-n: both selections
    * need complete sidecars (rows must be countable); top-n
    * additionally needs disjoint ranges. Either condition failing
    * falls back to every live shard — selection is an I/O
    * optimization under a partial pushdown, so the fallback is
    * always correct. */
  private def selectedShards: Seq[GraftLog.ShardInfo] = {
    val live = liveShards
    topN match {
      case Some((asc, n)) if rangesDisjoint(live) =>
        val prio =
          if (asc) live.sortBy(_.stats.get._1)
          else live.sortBy(s => -s.stats.get._2)
        coverRows(prio, n.toLong)
      case _ => limit match {
        case Some(n) if live.forall(_.stats.isDefined) => coverRows(live, n.toLong)
        case _ => live
      }
    }
  }

  /** Per-reader row cap: under a pushed LIMIT (head rows — any rows
    * satisfy an unordered limit) or an ASCENDING top-n (each shard is
    * event_id-sorted by the format contract, so rows past the first n
    * of a shard can never reach the global top-n). A DESCENDING top-n
    * needs each shard's LAST n rows instead — [[GraftLogTailReader]].
    */
  private def headCap: Option[Int] = topN match {
    case Some((true, n)) => Some(n)
    case Some((false, _)) => None
    case None => limit
  }

  /** Per-partition read order is event_id ASC whenever partitions
    * read shards whose internal order (the format contract: the write
    * path sorts on event_id) composes to a sorted partition:
    * unbucketed partitions are single shards (always sorted); a
    * bucket partition reads its shards back-to-back, so its ranges
    * must be disjoint AND ascending in file order. Reported only when
    * event_id survives column pruning (the ordering must resolve
    * against the scan output) — what this buys the engine: a logical
    * Sort on event_id over this scan is removed by EliminateSorts,
    * and anything above consumes pre-sorted partitions for free. */
  override def outputOrdering(): Array[SortOrder] = {
    val ascOrder: Array[SortOrder] = Array(
      Expressions.sort(Expressions.column("event_id"),
        SortDirection.ASCENDING))
    if (pushedAgg.isDefined || changeFeed ||
        !required.fieldNames.contains("event_id"))
      Array.empty
    else bucketGroups match {
      case Some(gs) =>
        val ok = gs.forall { case (_, ss) =>
          ss.forall(_.stats.isDefined) &&
            ss.zip(ss.drop(1)).forall { case (a, b) =>
              a.stats.get._2 < b.stats.get._1 // disjoint ASC in file order
            }
        }
        if (ok) ascOrder else Array.empty
      case None => ascOrder
    }
  }

  /** Bucket → shards grouping, present only when the layout supports
    * a key-grouped read: every live shard carries a bucket AND the
    * bucket column survives column pruning (the reported partition
    * key must resolve against the scan output). Groups are sorted by
    * bucket so both sides of a storage-partitioned join list their
    * partitions in the same key order. */
  private def bucketGroups: Option[Seq[(Long, Seq[GraftLog.ShardInfo])]] = {
    if (changeFeed) return None // CDF never reads a bucketed layout
    val live = liveShards
    if (live.nonEmpty && live.forall(_.ub.isDefined) &&
        required.fieldNames.contains("ub"))
      Some(live.groupBy(_.ub.get).toSeq.sortBy(_._1))
    else None
  }

  /** The layout contract surfaced to Catalyst: a bucketed table reads
    * as KeyGroupedPartitioning(identity(ub)) — one input partition
    * per bucket, each declaring its key via HasPartitionKey — which
    * is what lets two same-bucketed graftlog tables join WITHOUT any
    * shuffle (storage-partitioned join) and a groupBy on (ub, ...)
    * aggregate without an exchange. Anything else reads as unknown. */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (changeFeed)
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(changes.size)
    else if (pushedAgg.isDefined)
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(1)
    else bucketGroups match {
      case Some(gs) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(Expressions.identity("ub")), gs.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(selectedShards.size)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    if (changeFeed) {
      onPlan(changes.map(_._1))
      return changes.map { case (f, ct, dv) =>
        GraftLogPartition(f, None, None, None, Some(ct), dv): InputPartition
      }.toArray
    }
    pushedAgg match {
      case Some(aggs) =>
        // metadata-only: fold the sidecars on the driver and emit the
        // single final row from one empty-work partition — over the
        // SNAPSHOT's shard prefix when a version is pinned, so even
        // the metadata-only path time-travels. The builder accepted
        // the pushdown on this same view's dv-free shard set.
        val stats = view.shards.flatMap(_.stats)
        val values: Array[Option[Long]] = aggs.map {
          case _: CountStar => Some(stats.map(_._3).sum)
          case _: Min =>
            if (stats.isEmpty) None else Some(stats.map(_._1).min)
          case _: Max =>
            if (stats.isEmpty) None else Some(stats.map(_._2).max)
          case f => throw new IllegalStateException(s"unexpected agg $f")
        }.toArray
        Array(GraftLogAggPartition(values))
      case None => bucketGroups match {
        case Some(gs) =>
          onPlan(gs.flatMap(_._2.map(_.file)))
          gs.map { case (ub, ss) =>
            GraftLogBucketPartition(ss.map(_.file), ub): InputPartition
          }.toArray
        case None =>
          val cap = headCap
          val tailCap = topN.collect { case (false, n) => n }
          val sel = selectedShards
          onPlan(sel.map(_.file))
          // deletion vectors of the planned shards, resolved at the
          // read's generation; suppress-mode: the reader subtracts
          // the keys. Limit/top-n were accepted on this same view's
          // dv-free shard set, so capped partitions never carry one.
          sel.map { s =>
            GraftLogPartition(s.file, s.ub, cap, tailCap, None,
              view.dvOf(s).map(GraftLog.DvRef(_, keep = false)))
              : InputPartition
          }.toArray
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (lo, hi) = if (exactKeys) bounds else (Long.MinValue, Long.MaxValue)
    // snapshot-resolved schema: a version/timestamp-travel read
    // parses its lines under the schema its snapshot was written
    // under (renames/drops/widenings resolve per generation)
    new GraftLogReaderFactory(required.fieldNames,
      GraftLog.extColsAt(path, version), lo, hi)
  }
}

/** The one-row result of a completely-pushed aggregate (None = SQL
  * NULL: MIN/MAX over an empty log). */
case class GraftLogAggPartition(values: Array[Option[Long]])
    extends InputPartition

/** `headCap` keeps only the shard's first n rows (pushed LIMIT, or an
  * ascending top-n riding the format's within-shard event_id order);
  * `tailCap` keeps the LAST n rows (descending top-n) — mutually
  * exclusive by construction. `change` tags a change-feed partition:
  * every row of the shard reads with that `_change_type`. `dv`
  * applies the shard's deletion vector (suppress-mode on a scan,
  * keep-mode for a change feed's dv delta — see [[GraftLog.DvRef]]).
  */
case class GraftLogPartition(file: String, ub: Option[Long] = None,
    headCap: Option[Int] = None, tailCap: Option[Int] = None,
    change: Option[String] = None,
    dv: Option[GraftLog.DvRef] = None)
    extends InputPartition

/** One whole bucket of a bucketed table — its partition key is what
  * Spark's storage-partitioned-join machinery aligns across scans
  * (`spark.sql.sources.v2.bucketing.enabled`). */
case class GraftLogBucketPartition(files: Seq[String], ub: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](ub))
}

/** Streaming read of a graftlog directory: the offset is how many
  * shards (in name order) have been admitted — the FileStreamSource
  * model on the custom format. New shards appended by an ingest
  * process are picked up by the next `latestOffset` poll;
  * `maxShardsPerTrigger` is the admission-control knob (a micro-batch
  * admits at most that many shards), and Trigger.AvailableNow pins
  * the drain target at start so a concurrent writer cannot keep the
  * drain alive forever. Shards are immutable once written (the
  * sidecar is the commit marker in spirit; ingest writes shard then
  * sidecar), so replaying a (start, end] slice after a crash reads
  * identical data — exactly-once composes with the engine's
  * idempotent foreachBatch sinks. */
case class GraftLogOffset(n: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"shards":$n}"""
}

class GraftLogMicroBatchStream(path: String, required: StructType,
    maxShardsPerTrigger: Option[Int],
    ignoreDeletes: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private var availableNowTarget: Option[Int] = None

  private def shardFiles: Seq[String] = {
    GraftLog.applySwapIfPresent(path)
    val s = Files.list(Paths.get(path))
    try s.iterator().asScala
      .map(_.toString).filter(_.endsWith(".graftlog")).toSeq.sorted
    finally s.close()
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(shardFiles.size)

  override def getDefaultReadLimit: ReadLimit =
    maxShardsPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(shardFiles.size)
    val from = start.asInstanceOf[GraftLogOffset].n
    val admitted = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        math.min(target, from + m.maxFiles())
      case _ => target
    }
    GraftLogOffset(math.max(from, admitted))
  }

  override def reportLatestOffset(): Offset =
    GraftLogOffset(availableNowTarget.getOrElse(shardFiles.size))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def initialOffset(): Offset = GraftLogOffset(0)

  override def deserializeOffset(json: String): Offset =
    GraftLogOffset("""\d+""".r.findFirstIn(json).get.toInt)

  override def planInputPartitions(start: Offset, end: Offset):
      Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLogOffset].n
    val e = end.asInstanceOf[GraftLogOffset].n
    // micro-batches of a bucketed dir still read shard-by-shard (no
    // key grouping in a stream); the sidecar bucket rides along so a
    // projected ub column materializes correctly
    val shards = GraftLog.listShards(path)
    // this stream IS the append log: its exactly-once story rests on
    // a (start, end] slice replaying IDENTICAL rows, which deletion
    // vectors would break (a replay after a later dv commit would
    // read fewer rows than the original batch). Detect and fail
    // loudly — the Delta rule — unless the consumer opts into
    // physical-row semantics; delete-aware consumers belong on the
    // change-feed stream (readChangeFeed).
    if (!ignoreDeletes &&
        GraftLog.dvMap(path, shards, GraftLog.generation(path)).nonEmpty)
      throw new IllegalStateException(
        s"graftlog stream over $path: the table carries deletion " +
          "vectors, which a shard-offset stream cannot replay " +
          "deterministically — read the change feed " +
          "(.option(\"readChangeFeed\", true)) for delete-aware " +
          "consumption, or .option(\"ignoreDeletes\", true) to stream " +
          "the physical append log")
    val ubByFile = shards.map(i => i.file -> i.ub).toMap
    shardFiles.slice(s, e)
      .map(f => GraftLogPartition(f, ubByFile.getOrElse(f, None))
        : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(required.fieldNames,
      GraftLog.extCols(path))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A snapshot token as a streaming offset — the streaming change
  * feed checkpoints WHERE IN THE COMMIT HISTORY it is, not a shard
  * count, so a restart resumes from an exact table version. */
case class GraftLogVersionOffset(token: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":"$token"}"""
}

/** Streaming CHANGE DATA FEED — the q334 batch surface as a
  * micro-batch source: `readStream.option("readChangeFeed", true)
  * .option("sinceVersion", tok)`. Offsets are snapshot TOKENS; each
  * trigger reads the name-level manifest diff between two tokens
  * through the same [[GraftLog.changeSet]] machinery as the batch
  * feed, so a drained stream is row-identical to the batch read over
  * the same token span — and it opens only the touched shards, never
  * the table. `maxCommitsPerTrigger` bounds a trigger to k COMMITS
  * (a trigger boundary must be a real snapshot token, so admission
  * control steps through the recorded commit markers — never through
  * a fraction of a commit). A restart resumes from the checkpointed
  * token; if VACUUM has reclaimed the generation it needs, the read
  * fails loudly — the retention contract, not a silent gap. This is
  * the incremental-consumer loop at 100 TB: the downstream job tails
  * commits and reads megabytes per cycle, with update rows arriving
  * as delete+insert pairs exactly as the batch feed defines them. */
class GraftLogChangeFeedStream(path: String, required: StructType,
    since: String, maxCommitsPerTrigger: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // pin the head at AvailableNow start so the run has a fixed target
  // even while writers keep committing
  private var availableNowTarget: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(GraftLog.currentVersion(path))

  override def getDefaultReadLimit: ReadLimit =
    maxCommitsPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftLogVersionOffset].token
    val target = availableNowTarget.getOrElse(GraftLog.currentVersion(path))
    val tOrd = GraftLog.tokenOrd(target)
    val pending = GraftLog.commitTokensAfter(path, from)
      .filter(t => Ordering[(Long, Long)].lteq(GraftLog.tokenOrd(t), tOrd))
    val admitted = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        pending.take(m.maxFiles())
      case _ => pending
    }
    GraftLogVersionOffset(admitted.lastOption.getOrElse(from))
  }

  override def reportLatestOffset(): Offset =
    GraftLogVersionOffset(
      availableNowTarget.getOrElse(GraftLog.currentVersion(path)))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def initialOffset(): Offset = {
    GraftLog.tokenOrd(since) // validate eagerly: a typo fails at start
    GraftLogVersionOffset(since)
  }

  override def deserializeOffset(json: String): Offset =
    GraftLogVersionOffset(
      """"version"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(json)
        .map(_.group(1))
        .getOrElse(throw new IllegalArgumentException(
          s"malformed graftlog change-feed offset: $json")))

  override def planInputPartitions(start: Offset, end: Offset):
      Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLogVersionOffset].token
    val e = end.asInstanceOf[GraftLogVersionOffset].token
    if (s == e) return Array.empty
    GraftLog.changeSet(path, s, Some(e)).map { case (f, ct, dv) =>
      GraftLogPartition(f, None, None, None, Some(ct), dv): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(required.fieldNames,
      GraftLog.extCols(path))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `lo`/`hi`: the inclusive event_id interval every reader keeps
  * (a scan's exact key bounds; the full range otherwise). */
class GraftLogReaderFactory(requiredCols: Array[String],
    ext: Seq[GraftLog.ExtCol] = Nil,
    lo: Long = Long.MinValue, hi: Long = Long.MaxValue)
    extends PartitionReaderFactory {

  // resolved once on the driver, shipped to executors
  private val refs: Array[GraftLog.ColRef] =
    GraftLog.resolveCols(requiredCols, ext)

  /** Columnar (vectorized) reads for the common shape — a plain
    * single-shard partition with no row caps: lines parse straight
    * into OnHeapColumnVectors, 4096 rows per ColumnarBatch, and Spark
    * plans its codegen'd ColumnarToRow above the scan (the vectorized
    * parquet reader's hand-off, on the custom format). Aggregate
    * partitions (1 synthetic row), bucket groups and capped head/tail
    * reads keep the row-based readers — partition shapes are
    * homogeneous per scan, so Spark never sees a mixed batch. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition match {
      // metadata-column and change-feed projections stay on the row
      // reader; a suppress-mode dv keeps the columnar path (the
      // common post-delete scan shape must stay vectorized)
      case GraftLogPartition(_, _, None, None, None, _) =>
        !refs.contains(GraftLog.ShardCol)
      case _ => false
    }

  override def createColumnarReader(partition: InputPartition):
      PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case GraftLogPartition(file, ub, None, None, None, dv) =>
        new GraftLogColumnarReader(file, refs, ub, dv, lo, hi)
      case p => throw new IllegalStateException(
        s"no columnar reader for partition $p")
    }

  override def createReader(partition: InputPartition):
      PartitionReader[InternalRow] = partition match {
    case GraftLogAggPartition(values) =>
      // the pushed-aggregate row was computed from sidecars at plan
      // time; this reader just emits it — no shard is ever opened
      new PartitionReader[InternalRow] {
        private var emitted = false
        override def next(): Boolean = !emitted && { emitted = true; true }
        override def get(): InternalRow =
          new GenericInternalRow(
            values.map(v => (v.map(Long.box).orNull): Any))
        override def close(): Unit = ()
      }
    case GraftLogPartition(file, ub, head, tail, change, dv) =>
      val base = new GraftLogReader(file, refs, ub, change, dv, lo, hi)
      (head, tail) match {
        case (Some(n), _) => new GraftLogHeadReader(base, n)
        case (_, Some(n)) => new GraftLogTailReader(base, n)
        case _ => base
      }
    case GraftLogBucketPartition(files, ub) =>
      new GraftLogBucketReader(files, refs, ub, lo, hi)
  }
}

/** Emit only the first n rows of the wrapped reader (pushed LIMIT /
  * ascending top-n). */
class GraftLogHeadReader(under: PartitionReader[InternalRow], n: Int)
    extends PartitionReader[InternalRow] {
  private var left = n
  override def next(): Boolean = left > 0 && under.next() && { left -= 1; true }
  override def get(): InternalRow = under.get()
  override def close(): Unit = under.close()
  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    under.currentMetricsValues()
}

/** Emit only the LAST n rows of the wrapped reader, in their stored
  * (ascending) order — a descending top-n over an event_id-sorted
  * shard wants the shard's tail. One pass, O(n) ring buffer; rows
  * must be copied into the buffer (the underlying reader reuses its
  * row object between `next` calls only if it does — ours allocates,
  * but the copy keeps this wrapper safe for any reader). */
class GraftLogTailReader(under: PartitionReader[InternalRow], n: Int)
    extends PartitionReader[InternalRow] {
  private var buf: java.util.ArrayDeque[InternalRow] = _
  private var row: InternalRow = _
  override def next(): Boolean = {
    if (buf == null) {
      buf = new java.util.ArrayDeque[InternalRow](n + 1)
      while (under.next()) {
        if (buf.size() == n) buf.removeFirst()
        buf.addLast(under.get().copy())
      }
    }
    if (buf.isEmpty) false
    else { row = buf.removeFirst(); true }
  }
  override def get(): InternalRow = row
  override def close(): Unit = under.close()
  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    under.currentMetricsValues()
}

/** Vectorized shard reader: parses up to 4096 lines per
  * [[org.apache.spark.sql.vectorized.ColumnarBatch]] into on-heap
  * column vectors, materializing only the pruned columns (`ub` is
  * sidecar-sourced, emitted as a constant vector when asked for).
  * TimestampType's vector representation is micros-since-epoch — the
  * format's ts_us column, no conversion. */
class GraftLogColumnarReader(file: String,
    refs: Array[GraftLog.ColRef],
    ub: Option[Long] = None,
    dv: Option[GraftLog.DvRef] = None,
    lo: Long = Long.MinValue, hi: Long = Long.MaxValue)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  GraftLog.filesOpened.incrementAndGet()
  private val keys = new GraftLog.KeyFilter(dv, lo, hi)
  // retired-store fallback: a rewrite racing this scan moved the
  // file, not deleted it — the copy is bit-identical (see
  // GraftLog.openShardLines)
  private val lines = GraftLog.openShardLines(file)
  private val it = lines.iterator()
  private val capacity = 4096
  private val vectors: Array[OnHeapColumnVector] = refs.map {
    case GraftLog.LineCol(_, dt, _) =>
      new OnHeapColumnVector(capacity, dt)
    case GraftLog.UbCol => new OnHeapColumnVector(capacity, LongType)
    case GraftLog.ShardCol | GraftLog.ChangeTypeCol =>
      throw new IllegalStateException(
        "_shard/_change_type projections keep the row reader")
  }
  private val batch = new ColumnarBatch(
    vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))

  override def next(): Boolean = {
    if (!it.hasNext) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < capacity && it.hasNext) {
      val line = it.next()
      if (!line.isEmpty && keys.admits(line)) {
        // limit -1 keeps trailing empties: an evolved string column
        // whose value is "" must not collapse into the exists-default
        val parts = line.split("\\|", -1)
        var c = 0
        while (c < refs.length) {
          refs(c) match {
            case GraftLog.LineCol(pos, dt, default) =>
              // a line SHORTER than the position predates the column
              // (ALTER ADD COLUMN): the declared default materializes;
              // an explicitly-written NullToken is always NULL
              if (pos >= parts.length && default != null) default match {
                case l: Long => vectors(c).putLong(n, l)
                case d: Double => vectors(c).putDouble(n, d)
                case i: Int => vectors(c).putInt(n, i) // DATE days
                case b: Boolean => vectors(c).putBoolean(n, b)
                case u: UTF8String =>
                  val b = u.getBytes
                  vectors(c).putByteArray(n, b, 0, b.length)
              }
              else if (pos >= parts.length ||
                  (pos >= 5 && parts(pos) == GraftLog.NullToken))
                vectors(c).putNull(n)
              else dt match {
                case LongType | TimestampType | TimestampNTZType =>
                  vectors(c).putLong(n, parts(pos).toLong)
                case DoubleType =>
                  vectors(c).putDouble(n, parts(pos).toDouble)
                case DateType =>
                  vectors(c).putInt(n, parts(pos).toInt)
                case BooleanType =>
                  vectors(c).putBoolean(n, parts(pos).toBoolean)
                case _ =>
                  val b = parts(pos).getBytes(StandardCharsets.UTF_8)
                  vectors(c).putByteArray(n, b, 0, b.length)
              }
            case GraftLog.UbCol => vectors(c).putLong(n, ub.getOrElse(
              throw new IllegalStateException(
                s"projection asked for ub but shard $file has no sidecar")))
            // unreachable (factory refuses both)
            case GraftLog.ShardCol | GraftLog.ChangeTypeCol => ()
          }
          c += 1
        }
        n += 1
      }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    lines.close()
    batch.close()
  }

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftLogMetrics.TaskMetric("shardsRead", 1L))
}

/** Line parser materializing ONLY the pruned columns. `ub` is the
  * shard's bucket (sidecar-sourced, constant per shard) — emitted
  * when the projection asks for the bucket column; never parsed from
  * the line. Evolved columns (positions ≥ 5) null-fill when the line
  * predates the ALTER (fewer fields) or carries the null token. */
class GraftLogReader(file: String, refs: Array[GraftLog.ColRef],
    ub: Option[Long] = None,
    change: Option[String] = None,
    dv: Option[GraftLog.DvRef] = None,
    lo: Long = Long.MinValue, hi: Long = Long.MaxValue)
    extends PartitionReader[InternalRow] {
  GraftLog.filesOpened.incrementAndGet()

  private val changeTag: UTF8String =
    change.map(UTF8String.fromString).orNull
  private val keys = new GraftLog.KeyFilter(dv, lo, hi)

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftLogMetrics.TaskMetric("shardsRead", 1L))
  // retired-store fallback — see GraftLog.openShardLines
  private val lines = GraftLog.openShardLines(file)
  private val it = lines.iterator()
  private var row: InternalRow = _

  private val shardName = UTF8String.fromString(
    Paths.get(file).getFileName.toString)

  override def next(): Boolean = {
    // loop (not recurse): a dv-delta partition or a key-bounded scan
    // may skip long runs of invisible lines
    while (it.hasNext) {
      val line = it.next()
      if (!line.isEmpty && keys.admits(line)) {
        // limit -1 keeps trailing empties (empty-string evolved value)
        val parts = line.split("\\|", -1)
        val values = new Array[Any](refs.length)
        var i = 0
        while (i < refs.length) {
          values(i) = refs(i) match {
            case GraftLog.LineCol(pos, dt, default) =>
              // short line = pre-ALTER row → the exists default;
              // an explicit NullToken is always NULL
              if (pos >= parts.length) default
              else if (pos >= 5 && parts(pos) == GraftLog.NullToken)
                null
              else dt match {
                case LongType | TimestampType | TimestampNTZType =>
                  parts(pos).toLong
                case DoubleType => parts(pos).toDouble
                case DateType => parts(pos).toInt
                case BooleanType => parts(pos).toBoolean
                case _ => UTF8String.fromString(parts(pos))
              }
            case GraftLog.UbCol => ub.getOrElse(
              throw new IllegalStateException(
                s"projection asked for ub but shard $file has no " +
                  "bucket sidecar"))
            case GraftLog.ShardCol => shardName
            case GraftLog.ChangeTypeCol =>
              if (changeTag == null) throw new IllegalStateException(
                s"projection asked for _change_type but the partition " +
                  s"over $file carries no change tag (not a " +
                  "change-feed read)")
              else changeTag
          }
          i += 1
        }
        row = new GenericInternalRow(values)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}

/** A whole bucket: its shard files read back to back. */
class GraftLogBucketReader(files: Seq[String],
    refs: Array[GraftLog.ColRef],
    ub: Long,
    lo: Long = Long.MinValue, hi: Long = Long.MaxValue)
    extends PartitionReader[InternalRow] {
  private val iter = files.iterator
  private var cur: GraftLogReader = _
  private var opened = 0L

  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftLogMetrics.TaskMetric("shardsRead", opened))

  override def next(): Boolean = {
    while (cur == null || !cur.next()) {
      if (cur != null) cur.close()
      if (!iter.hasNext) { cur = null; return false }
      cur = new GraftLogReader(iter.next(), refs, Some(ub), lo = lo, hi = hi)
      opened += 1
    }
    true
  }

  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}
