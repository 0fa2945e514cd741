package graft.lake

import org.apache.spark.sql.types._

/** In-memory DuckLake-style catalog. One immutable value = one consistent
  * catalog version; every DDL/DML produces a NEW state with a NEW snapshot
  * (the single-reference swap is the transaction, mirroring the reference's
  * BEGIN/TRUNCATE/INSERT/COMMIT pull at ducklakexl.py:459-464).
  *
  * The metadata-table set mirrors the public DuckLake spec subset the
  * reference round-trips (SURVEY.md §1.2): metadata, snapshot, schema,
  * table, column, data_file, delete_file, table_stats,
  * file_column_statistics. Rows carry [begin_snapshot, end_snapshot)
  * lifetimes so every historical snapshot remains answerable (time travel).
  *
  * Deletes are copy-on-write at FILE granularity: a DELETE ends the
  * lifetime of affected data files and (when rows survive) adds a rewritten
  * file. `ducklake_delete_file` records the tombstone provenance; we do not
  * use positional delete files (documented divergence — scan stays a plain
  * union of parquet files, the cheapest shape for Spark).
  */
object CatalogSchema {
  /** sheet name = metadata table name minus "ducklake_" (31-char Excel cap,
    * same rule as ducklakexl.py:241)
    */
  val tables: Seq[(String, Seq[String])] = Seq(
    "ducklake_metadata" -> Seq("key", "value"),
    "ducklake_snapshot" -> Seq("snapshot_id", "snapshot_time", "schema_version", "next_catalog_id", "next_file_id"),
    "ducklake_snapshot_changes" -> Seq("snapshot_id", "changes_made"),
    "ducklake_schema" -> Seq("schema_id", "schema_uuid", "begin_snapshot", "end_snapshot", "schema_name"),
    "ducklake_table" -> Seq("table_id", "table_uuid", "begin_snapshot", "end_snapshot", "schema_id", "table_name"),
    "ducklake_view" -> Seq("view_id", "view_uuid", "begin_snapshot", "end_snapshot", "schema_id", "view_name", "sql"),
    "ducklake_column" -> Seq("column_id", "begin_snapshot", "end_snapshot", "table_id", "column_order", "column_name", "column_type", "nulls_allowed", "initial_default", "default_value"),
    "ducklake_partition_info" -> Seq("partition_id", "table_id", "begin_snapshot", "end_snapshot"),
    "ducklake_partition_column" -> Seq("partition_id", "table_id", "partition_key_index", "column_id"),
    "ducklake_data_file" -> Seq("data_file_id", "table_id", "begin_snapshot", "end_snapshot", "path", "record_count", "file_size_bytes", "mapping_id"),
    "ducklake_column_mapping" -> Seq("mapping_id", "table_id", "type"),
    "ducklake_name_mapping" -> Seq("mapping_id", "column_id", "source_name", "target_name", "hive_partition"),
    "ducklake_file_partition_value" -> Seq("data_file_id", "table_id", "partition_key_index", "partition_value"),
    "ducklake_delete_file" -> Seq("delete_file_id", "table_id", "begin_snapshot", "end_snapshot", "data_file_id", "path", "delete_count"),
    "ducklake_table_stats" -> Seq("table_id", "record_count"),
    "ducklake_files_scheduled_for_deletion" -> Seq("data_file_id", "table_id", "path", "schedule_start"),
    "ducklake_inlined_data_tables" -> Seq("table_id", "sheet_name"),
    "ducklake_tag" -> Seq("object_id", "begin_snapshot", "end_snapshot", "key", "value"),
    "ducklake_column_tag" -> Seq("table_id", "column_id", "begin_snapshot", "end_snapshot", "key", "value"),
    "ducklake_file_column_statistics" -> Seq("data_file_id", "table_id", "column_id", "min_value", "max_value", "null_count")
  )

  /** the sheets a workbook must have for `pull` to adopt it as a lake —
    * optional sheets (views, stats, tombstones) parse as empty when absent,
    * so a workbook written by an older version still opens cleanly
    */
  val coreTables: Seq[String] = Seq("ducklake_metadata", "ducklake_snapshot",
    "ducklake_schema", "ducklake_table", "ducklake_column", "ducklake_data_file")

  def sheetName(table: String): String = table.stripPrefix("ducklake_").take(31)

  private val headers: Map[String, Seq[String]] = tables.toMap

  /** the header row of the known metadata table `table` */
  def header(table: String): Seq[String] = headers(table)

  /** every sheet name the state interprets; anything else round-trips inert */
  val knownSheetNames: Set[String] = tables.map { case (t, _) => sheetName(t) }.toSet

  /** Parsed DuckDB DDL type: keeps the LOGICAL identity (JSON vs VARCHAR,
    * UUID vs VARCHAR, HUGEINT vs DECIMAL(38,0)) that the Spark
    * [[DataType]] alone cannot carry — the catalog's `column_type` string
    * stores [[render]], so a reopened lake still DESCRIBEs `JSON`, not
    * `VARCHAR` (the r8/r9 HUGEINT-twin lesson applied to DDL).
    */
  sealed trait LakeType { def spark: DataType; def render: String }
  private final case class PrimT(canon: String, spark: DataType) extends LakeType {
    def render: String = canon
  }
  private final case class ArrT(elem: LakeType) extends LakeType {
    def spark: DataType = ArrayType(elem.spark)
    def render: String = s"${elem.render}[]"
  }
  private final case class StructT(fields: Seq[(String, LakeType)]) extends LakeType {
    def spark: DataType =
      StructType(fields.map { case (n, t) => StructField(n, t.spark, true) })
    def render: String =
      fields.map { case (n, t) => s"$n ${t.render}" }.mkString("STRUCT(", ", ", ")")
  }
  private final case class MapT(k: LakeType, v: LakeType) extends LakeType {
    def spark: DataType = MapType(k.spark, v.spark)
    def render: String = s"MAP(${k.render}, ${v.render})"
  }
  /** ENUM('a', 'b') on a VARCHAR carrier (r14): the canonical render is
    * DuckDB's DESCRIBE spelling (comma-space, '' escapes) and survives
    * the xlsx round-trip like JSON/INTERVAL; membership is enforced by
    * a synthesized column CHECK at CREATE/ADD COLUMN ([[enumMembers]]).
    * Documented divergence: DuckDB sorts enums by DEFINITION order,
    * the VARCHAR carrier sorts lexically.
    */
  private final case class EnumT(members: Seq[String]) extends LakeType {
    def spark: DataType = StringType
    def render: String =
      members.map(m => "'" + m.replace("'", "''") + "'")
        .mkString("ENUM(", ", ", ")")
  }

  /** SQL type string (DuckDB-compatible DDL) -> Spark DataType */
  def parseType(t: String): DataType = parseLakeType(t).spark

  /** members when the TOP-LEVEL declared type is an ENUM — the
    * CREATE TABLE / ADD COLUMN paths synthesize the membership CHECK
    * from this (nested enums inside STRUCT/MAP/arrays get the VARCHAR
    * carrier without a check). r14. */
  def enumMembers(t: String): Option[Seq[String]] =
    scala.util.Try(parseLakeType(t)).toOption.collect { case e: EnumT => e.members }

  /** the TOP-LEVEL declared type is BIT — gets a synthesized
    * valid-bitstring CHECK like ENUM's membership check (r14) */
  def isBitType(t: String): Boolean =
    scala.util.Try(parseLakeType(t)).toOption.exists {
      case p: PrimT => p.canon == "BIT"
      case _ => false
    }

  /** validate + normalize a DDL type string, PRESERVING logical aliases
    * (`JSON` stays `JSON`); this is what `ducklake_column.column_type`
    * stores for CREATE TABLE / ADD COLUMN
    */
  def canonicalTypeName(t: String): String = parseLakeType(t).render

  /** Recursive-descent parser for the DuckDB DDL type grammar:
    * `base ::= NAME | NAME(args) | STRUCT(name type, …) | MAP(type, type)`
    * with any number of `[]` / `[n]` array suffixes. DuckDB's CREATE
    * TABLE reaches the reference verbatim (ducklakexl.py:394), so the
    * lake must accept the nested/logical types DuckLake v0.1 stores.
    */
  def parseLakeType(t: String): LakeType = {
    val (ty, rest) = parseOne(t, 0)
    val end = skipWs(t, rest)
    require(end == t.length,
      s"unsupported column type (trailing '${t.substring(end)}'): $t")
    ty
  }

  /** parse a type at the HEAD of `t`, returning it plus the index where
    * it ends — the column-definition parser uses this to split
    * `INTEGER NOT NULL DEFAULT 7` into type and constraint tail without
    * re-guessing where multi-word/nested type spellings stop
    */
  def parseLakeTypePrefix(t: String): (LakeType, Int) = parseOne(t, 0)

  private def skipWs(s: String, i0: Int): Int = {
    var i = i0
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    i
  }

  /** parse one type starting at `from`; returns (type, index after it) */
  private def parseOne(s: String, from: Int): (LakeType, Int) = {
    var i = skipWs(s, from)
    val start = i
    while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
    require(i > start, s"unsupported column type: ${s.substring(from)}")
    var word = s.substring(start, i).toUpperCase
    var j = skipWs(s, i)
    // two-word spellings: TIMESTAMP WITH[OUT] TIME ZONE, DOUBLE PRECISION
    def peekWord(k0: Int): (String, Int) = {
      var k = skipWs(s, k0)
      val st = k
      while (k < s.length && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_')) k += 1
      (s.substring(st, k).toUpperCase, k)
    }
    if (word == "TIMESTAMP" || word == "TIME") {
      val (w1, k1) = peekWord(j)
      if (w1 == "WITH" || w1 == "WITHOUT") {
        val (w2, k2) = peekWord(k1)
        val (w3, k3) = peekWord(k2)
        require(w2 == "TIME" && w3 == "ZONE",
          s"unsupported column type: ${s.substring(from)}")
        word = word + (if (w1 == "WITH") "TZ" else "")
        j = skipWs(s, k3)
      }
    } else if (word == "DOUBLE") {
      val (w1, k1) = peekWord(j)
      if (w1 == "PRECISION") j = skipWs(s, k1)
    }
    var base: LakeType = word match {
      case "STRUCT" | "ROW" =>
        require(j < s.length && s.charAt(j) == '(', s"STRUCT needs a field list: $s")
        var k = j + 1
        val fields = Seq.newBuilder[(String, LakeType)]
        var more = true
        while (more) {
          k = skipWs(s, k)
          // field name: bare or "quoted"
          val name =
            if (k < s.length && s.charAt(k) == '"') {
              val close = s.indexOf('"', k + 1)
              require(close > k, s"unterminated quoted field name: $s")
              val n = s.substring(k + 1, close); k = close + 1; n
            } else {
              val st = k
              while (k < s.length && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_')) k += 1
              require(k > st, s"STRUCT field needs a name: $s")
              s.substring(st, k)
            }
          val (ft, k2) = parseOne(s, k)
          fields += ((name, ft))
          k = skipWs(s, k2)
          if (k < s.length && s.charAt(k) == ',') { k += 1 }
          else { require(k < s.length && s.charAt(k) == ')', s"unterminated STRUCT(: $s"); more = false }
        }
        j = k + 1
        StructT(fields.result())
      case "MAP" =>
        require(j < s.length && s.charAt(j) == '(', s"MAP needs (key, value): $s")
        val (kt, a) = parseOne(s, j + 1)
        val a2 = skipWs(s, a)
        require(a2 < s.length && s.charAt(a2) == ',', s"MAP needs (key, value): $s")
        val (vt, b) = parseOne(s, a2 + 1)
        val b2 = skipWs(s, b)
        require(b2 < s.length && s.charAt(b2) == ')', s"unterminated MAP(: $s")
        j = b2 + 1
        MapT(kt, vt)
      case "DECIMAL" | "NUMERIC" =>
        if (j < s.length && s.charAt(j) == '(') {
          val close = s.indexOf(')', j)
          require(close > j, s"unterminated DECIMAL(: $s")
          val parts = s.substring(j + 1, close).split(',').map(_.trim)
          require(parts.length == 2 && parts.forall(p => p.nonEmpty && p.forall(_.isDigit)),
            s"DECIMAL needs (precision, scale): $s")
          j = close + 1
          PrimT(s"DECIMAL(${parts(0)},${parts(1)})",
            DecimalType(parts(0).toInt, parts(1).toInt))
        } else PrimT("DECIMAL(18,3)", DecimalType(18, 3)) // DuckDB default
      case "UNION" =>
        // DuckDB's sum type: no Spark carrier preserves the active-tag
        // semantics (a struct carrier would silently change comparisons
        // and renders) — a NAMED loud refusal instead of the generic
        // unsupported-type error (r14)
        throw new IllegalArgumentException(
          "UNION(...) column types are not supported: Spark has no sum-type " +
          "carrier that preserves the active member tag — declare a " +
          "STRUCT(tag VARCHAR, ...) or separate nullable columns instead")
      case "ENUM" =>
        require(j < s.length && s.charAt(j) == '(', s"ENUM needs a member list: $s")
        var k = j + 1
        val members = Seq.newBuilder[String]
        var more = true
        while (more) {
          k = skipWs(s, k)
          require(k < s.length && s.charAt(k) == '\'',
            s"ENUM members are string literals: $s")
          val sb = new StringBuilder
          k += 1
          var closed = false
          while (k < s.length && !closed) {
            val c = s.charAt(k)
            if (c == '\'') {
              if (k + 1 < s.length && s.charAt(k + 1) == '\'') { sb.append('\''); k += 2 }
              else { closed = true; k += 1 }
            } else { sb.append(c); k += 1 }
          }
          require(closed, s"unterminated ENUM member literal: $s")
          members += sb.toString
          k = skipWs(s, k)
          if (k < s.length && s.charAt(k) == ',') { k += 1 }
          else { require(k < s.length && s.charAt(k) == ')', s"unterminated ENUM(: $s"); more = false }
        }
        j = k + 1
        EnumT(members.result())
      case "VARCHAR" | "CHAR" if j < s.length && s.charAt(j) == '(' =>
        // VARCHAR(n): DuckDB treats the length as documentation only
        val close = s.indexOf(')', j)
        require(close > j && s.substring(j + 1, close).trim.forall(_.isDigit),
          s"bad VARCHAR length: $s")
        j = close + 1
        PrimT("VARCHAR", StringType)
      case _ => primType(word).getOrElse(
        throw new IllegalArgumentException(s"unsupported column type: $word"))
    }
    // array suffixes: `[]` (list) or `[n]` (fixed array — stored as list)
    var k = skipWs(s, j)
    while (k < s.length && s.charAt(k) == '[') {
      val close = s.indexOf(']', k)
      require(close > 0 && s.substring(k + 1, close).trim.forall(_.isDigit),
        s"bad array suffix: $s")
      base = ArrT(base)
      k = skipWs(s, close + 1)
    }
    (base, k)
  }

  private def primType(word: String): Option[LakeType] = Option(word match {
    case "INTEGER" | "INT" | "INT4" | "SIGNED" => PrimT("INTEGER", IntegerType)
    case "BIGINT" | "INT8" | "LONG"    => PrimT("BIGINT", LongType)
    case "SMALLINT" | "INT2" | "SHORT" => PrimT("SMALLINT", ShortType)
    case "TINYINT" | "INT1"            => PrimT("TINYINT", ByteType)
    case "VARCHAR" | "TEXT" | "STRING" | "BPCHAR" | "CHAR" => PrimT("VARCHAR", StringType)
    case "DOUBLE" | "FLOAT8"           => PrimT("DOUBLE", DoubleType)
    case "FLOAT" | "REAL" | "FLOAT4"   => PrimT("FLOAT", FloatType)
    case "BOOLEAN" | "BOOL" | "LOGICAL" => PrimT("BOOLEAN", BooleanType)
    case "DATE"                        => PrimT("DATE", DateType)
    case "TIMESTAMP" | "DATETIME"      => PrimT("TIMESTAMP", TimestampNTZType)
    // DuckDB's unsigned family: stored as the next-wider SIGNED type
    // (the smallest Spark/parquet type that carries the full range)
    case "UTINYINT"                    => PrimT("UTINYINT", ShortType)
    case "USMALLINT"                   => PrimT("USMALLINT", IntegerType)
    case "UINTEGER"                    => PrimT("UINTEGER", LongType)
    case "UBIGINT"                     => PrimT("UBIGINT", DecimalType(20, 0))
    // logical types whose Spark storage type is shared — the catalog
    // string keeps the identity, the engine stores the physical twin
    case "TIMESTAMPTZ"                 => PrimT("TIMESTAMPTZ", TimestampType)
    case "JSON"                        => PrimT("JSON", StringType)
    case "UUID"                        => PrimT("UUID", StringType)
    case "BLOB" | "BYTEA" | "BINARY" | "VARBINARY" => PrimT("BLOB", BinaryType)
    case "TIME"                        => PrimT("TIME", TimeType(6))
    // int128: DECIMAL(38,0) covers ±10^38 (vs ±1.7e38 for int128) — the
    // widest exact integer Spark/parquet store; values past 10^38-1
    // overflow LOUDLY at insert rather than silently wrapping
    case "HUGEINT"                     => PrimT("HUGEINT", DecimalType(38, 0))
    // DuckDB's INTERVAL mixes months, days and microseconds in one
    // value; Spark's parquet-storable intervals are year-month XOR
    // day-time, so the lossless carrier is the CANONICAL DuckDB text
    // rendering (functions/IntervalText coerces any Spark interval
    // flavor or interval string into it at write time) — DESCRIBE still
    // reads INTERVAL, same treatment as JSON/UUID
    case "INTERVAL"                    => PrimT("INTERVAL", StringType)
    // bitstring on a VARCHAR carrier ('0101'); membership CHECK
    // synthesized at CREATE/ADD COLUMN like ENUM (r14). Bit OPERATORS
    // stay unimplemented — loud unresolved-function errors.
    case "BIT" | "BITSTRING"           => PrimT("BIT", StringType)
    case _ => null
  })

  /** lossless type promotions `ALTER COLUMN TYPE` accepts (DuckLake type
    * widening): numeric ladder, small-int-family -> float/double, float ->
    * double, decimal growth that keeps every old value representable.
    * NOT accepted (r5 advice): INTEGER->FLOAT (24-bit mantissa loses
    * 16777217) and BIGINT->DOUBLE (53-bit mantissa loses values > 2^53) —
    * DuckLake promotion is lossless-only, so those stay rejected.
    */
  def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (a: DecimalType, b: DecimalType) =>
      b.scale >= a.scale && (b.precision - b.scale) >= (a.precision - a.scale)
    case _ => false
  }

  def typeName(dt: DataType): String = dt match {
    case IntegerType      => "INTEGER"
    case LongType         => "BIGINT"
    case ShortType        => "SMALLINT"
    case ByteType         => "TINYINT"
    case StringType       => "VARCHAR"
    case DoubleType       => "DOUBLE"
    case FloatType        => "FLOAT"
    case BooleanType      => "BOOLEAN"
    case DateType         => "DATE"
    case TimestampNTZType => "TIMESTAMP"
    case TimestampType    => "TIMESTAMPTZ"
    case BinaryType       => "BLOB"
    case _: TimeType      => "TIME"
    case d: DecimalType   => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _)  => s"${typeName(e)}[]"
    case StructType(fs)   =>
      fs.map(f => s"${f.name} ${typeName(f.dataType)}").mkString("STRUCT(", ", ", ")")
    case MapType(k, v, _) => s"MAP(${typeName(k)}, ${typeName(v)})"
    case other => throw new IllegalArgumentException(s"unsupported data type: $other")
  }
}

final case class SnapshotRow(snapshotId: Long, snapshotTime: String,
                             schemaVersion: Long, nextCatalogId: Long, nextFileId: Long)
/** per-snapshot audit summary (`ducklake_snapshot_changes.changes_made`) */
final case class SnapshotChangeRow(snapshotId: Long, changesMade: String)
final case class SchemaRow(schemaId: Long, schemaUuid: String,
                           beginSnapshot: Long, endSnapshot: Option[Long], schemaName: String)
final case class TableRow(tableId: Long, tableUuid: String,
                          beginSnapshot: Long, endSnapshot: Option[Long],
                          schemaId: Long, tableName: String)
final case class ViewRow(viewId: Long, viewUuid: String,
                         beginSnapshot: Long, endSnapshot: Option[Long],
                         schemaId: Long, viewName: String, sql: String)
final case class ColumnRow(columnId: Long, beginSnapshot: Long, endSnapshot: Option[Long],
                           tableId: Long, columnOrder: Int, columnName: String,
                           columnType: String, nullsAllowed: Boolean)
final case class DataFileRow(dataFileId: Long, tableId: Long,
                             beginSnapshot: Long, endSnapshot: Option[Long],
                             path: String, recordCount: Long, fileSizeBytes: Long,
                             mappingId: Option[Long] = None)
/** how a data file's physical columns map onto catalog columns (DuckLake
  * spec `ducklake_column_mapping`; the one defined type is 'map_by_name')
  * — written by foreign tools registering existing parquet whose column
  * names don't match the catalog
  */
final case class ColumnMappingRow(mappingId: Long, tableId: Long, mapType: String)
/** one entry of a mapping (`ducklake_name_mapping`): file column
  * `sourceName` feeds catalog column `columnId`. `hivePartition` entries
  * have no column IN the file — the value is the `sourceName=value`
  * segment of the file's path (the hive layout foreign data arrives in)
  */
final case class NameMappingRow(mappingId: Long, columnId: Long,
                                sourceName: String, targetName: String,
                                hivePartition: Boolean)
/** a table's partition spec (one live row per partitioned table) */
final case class PartitionInfoRow(partitionId: Long, tableId: Long,
                                  beginSnapshot: Long, endSnapshot: Option[Long])
/** key k of a partition spec = the column with this columnId */
final case class PartitionColumnRow(partitionId: Long, tableId: Long,
                                    partitionKeyIndex: Int, columnId: Long)
/** the single partition value a data file holds for key index k (files of
  * a partitioned table are written one-partition-value-per-file); None =
  * the file's rows had NULL in the partition column
  */
final case class FilePartitionValueRow(dataFileId: Long, tableId: Long,
                                       partitionKeyIndex: Int,
                                       partitionValue: Option[String])
final case class DeleteFileRow(deleteFileId: Long, tableId: Long,
                               beginSnapshot: Long, endSnapshot: Option[Long],
                               dataFileId: Long, path: String, deleteCount: Long)
final case class TableStatsRow(tableId: Long, recordCount: Long)
/** a data file no snapshot can reach anymore, awaiting physical delete —
  * written by `expireSnapshots`, consumed by `vacuum`
  */
final case class ScheduledDeleteRow(dataFileId: Long, tableId: Long,
                                    path: String, scheduleStart: String)
/** key/value tag on a catalog object (DuckLake `ducklake_tag`; comments
  * are key='comment'), with snapshot lifetimes
  */
final case class TagRow(objectId: Long, beginSnapshot: Long,
                        endSnapshot: Option[Long], key: String, value: String)
/** key/value tag on a column (DuckLake `ducklake_column_tag`) */
final case class ColumnTagRow(tableId: Long, columnId: Long, beginSnapshot: Long,
                              endSnapshot: Option[Long], key: String, value: String)
/** a row stored INLINE in the catalog (DuckLake data inlining): cells are
  * the §1.3 string forms of the table's columns at write time, with
  * [begin_snapshot, end_snapshot) lifetime like a data file — end is set
  * when the rows flush to parquet
  */
final case class InlinedDataRow(tableId: Long, beginSnapshot: Long,
                                endSnapshot: Option[Long], cells: Vector[String])
final case class FileColumnStatsRow(dataFileId: Long, tableId: Long, columnId: Long,
                                    minValue: Option[String], maxValue: Option[String],
                                    nullCount: Long)

final case class CatalogState(
    metadata: Vector[(String, String)],
    snapshots: Vector[SnapshotRow],
    snapshotChanges: Vector[SnapshotChangeRow],
    schemas: Vector[SchemaRow],
    tables: Vector[TableRow],
    views: Vector[ViewRow],
    columns: Vector[ColumnRow],
    partitionInfo: Vector[PartitionInfoRow],
    partitionColumns: Vector[PartitionColumnRow],
    dataFiles: Vector[DataFileRow],
    filePartitionValues: Vector[FilePartitionValueRow],
    deleteFiles: Vector[DeleteFileRow],
    tableStats: Vector[TableStatsRow],
    scheduledDeletes: Vector[ScheduledDeleteRow],
    inlinedData: Vector[InlinedDataRow],
    tags: Vector[TagRow],
    columnTags: Vector[ColumnTagRow],
    fileColumnStats: Vector[FileColumnStatsRow],
    /** sheets the state does not interpret, carried verbatim through
      * pull∘push — the reference syncs whatever metadata tables exist
      * without reading their rows (ducklakexl.py:238-241; SURVEY §1.2),
      * so an unknown sheet (partition_info, tag, …) must never be dropped
      * from the source of truth
      */
    // UNKNOWN sheets round-trip untouched; known sheets are rewritten
    // with the spec's column set, so a column a NEWER DuckLake writer
    // added to a known sheet does not survive our push (our row set has
    // no values for it — mixing typed mutations with unknown columns has
    // no correct merge for added/deleted rows). Documented limitation:
    // foreign-extended KNOWN sheets are spec-frozen, unknown sheets are
    // preserved verbatim.
    extraSheets: Vector[XlsxSheet],
    columnMappings: Vector[ColumnMappingRow] = Vector.empty,
    nameMappings: Vector[NameMappingRow] = Vector.empty) {

  def currentSnapshot: Long =
    if (snapshots.isEmpty) 0L else snapshots.map(_.snapshotId).max

  private def aliveAt[A](begin: A => Long, end: A => Option[Long], snap: Long)(row: A): Boolean =
    begin(row) <= snap && end(row).forall(_ > snap)

  def liveTables(snap: Long = currentSnapshot): Vector[TableRow] =
    tables.filter(aliveAt[TableRow](_.beginSnapshot, _.endSnapshot, snap))

  def tableByName(name: String, snap: Long = currentSnapshot): Option[TableRow] =
    liveTables(snap).find(_.tableName.equalsIgnoreCase(name))

  def liveSchemas(snap: Long = currentSnapshot): Vector[SchemaRow] =
    schemas.filter(aliveAt[SchemaRow](_.beginSnapshot, _.endSnapshot, snap))

  def schemaByName(name: String, snap: Long = currentSnapshot): Option[SchemaRow] =
    liveSchemas(snap).find(_.schemaName.equalsIgnoreCase(name))

  /** live tables of one schema (multi-schema: same-named tables may exist
    * in different schemas; resolution is always schema-scoped)
    */
  def liveTablesIn(schemaName: String, snap: Long = currentSnapshot): Vector[TableRow] =
    schemaByName(schemaName, snap) match {
      case Some(s) => liveTables(snap).filter(_.schemaId == s.schemaId)
      case None    => Vector.empty
    }

  def tableByNameIn(schemaName: String, name: String,
      snap: Long = currentSnapshot): Option[TableRow] =
    liveTablesIn(schemaName, snap).find(_.tableName.equalsIgnoreCase(name))

  def liveViews(snap: Long = currentSnapshot): Vector[ViewRow] =
    views.filter(aliveAt[ViewRow](_.beginSnapshot, _.endSnapshot, snap))
      .sortBy(_.viewId)

  def viewByName(name: String, snap: Long = currentSnapshot): Option[ViewRow] =
    liveViews(snap).find(_.viewName.equalsIgnoreCase(name))

  def columnsOf(tableId: Long, snap: Long = currentSnapshot): Vector[ColumnRow] =
    columns.filter(c => c.tableId == tableId &&
      aliveAt[ColumnRow](_.beginSnapshot, _.endSnapshot, snap)(c))
      .sortBy(_.columnOrder)

  def filesOf(tableId: Long, snap: Long = currentSnapshot): Vector[DataFileRow] =
    dataFiles.filter(f => f.tableId == tableId &&
      aliveAt[DataFileRow](_.beginSnapshot, _.endSnapshot, snap)(f))

  /** the physical-name mapping entries of one mapping id, keyed by the
    * catalog columnId they feed (`ducklake_name_mapping`)
    */
  def nameMappingOf(mappingId: Long): Map[Long, NameMappingRow] =
    nameMappings.filter(_.mappingId == mappingId).map(m => m.columnId -> m).toMap

  /** FOREIGN positional delete files live at `snap`, keyed by the data
    * file they target: `ducklake_delete_file` rows with a real parquet
    * path (a workbook written by DuckDB-DuckLake). Our own writer records
    * CoW provenance tombstones with path "" — those are excluded here.
    */
  def positionalDeletes(tableId: Long, snap: Long = currentSnapshot)
      : Map[Long, Vector[DeleteFileRow]] =
    deleteFiles.filter(d => d.tableId == tableId && d.path.nonEmpty &&
      aliveAt[DeleteFileRow](_.beginSnapshot, _.endSnapshot, snap)(d))
      .groupBy(_.dataFileId)

  /** catalog-inlined rows of a table live at `snap` (DuckLake data
    * inlining; empty unless the lake was built with an inline row limit)
    */
  def inlinedOf(tableId: Long, snap: Long = currentSnapshot): Vector[InlinedDataRow] =
    inlinedData.filter(r => r.tableId == tableId &&
      aliveAt[InlinedDataRow](_.beginSnapshot, _.endSnapshot, snap)(r))

  /** live value of an object tag (e.g. key="comment") */
  def tagOf(objectId: Long, key: String, snap: Long = currentSnapshot): Option[String] =
    tags.find(t => t.objectId == objectId && t.key == key &&
      aliveAt[TagRow](_.beginSnapshot, _.endSnapshot, snap)(t)).map(_.value)

  /** live value of a column tag */
  def columnTagOf(tableId: Long, columnId: Long, key: String,
      snap: Long = currentSnapshot): Option[String] =
    columnTags.find(t => t.tableId == tableId && t.columnId == columnId &&
      t.key == key &&
      aliveAt[ColumnTagRow](_.beginSnapshot, _.endSnapshot, snap)(t)).map(_.value)

  def schemaOf(tableId: Long, snap: Long = currentSnapshot): StructType =
    StructType(columnsOf(tableId, snap).map { c =>
      val f = StructField(c.columnName, CatalogSchema.parseType(c.columnType),
        c.nullsAllowed)
      // logical types whose physical carrier needs WRITE-time coercion
      // (INTERVAL -> canonical text) advertise themselves in metadata —
      // the insert coercion keys on it, everything else ignores it
      if (c.columnType.trim.equalsIgnoreCase("INTERVAL"))
        f.copy(metadata = new MetadataBuilder()
          .putString("graft_logical", "INTERVAL").build())
      else f
    })

  /** the table's live partition-key columns at `snap`, in key order
    * (empty = unpartitioned)
    */
  def partitionColumnsOf(tableId: Long, snap: Long = currentSnapshot): Vector[ColumnRow] =
    partitionInfo
      .filter(p => p.tableId == tableId &&
        aliveAt[PartitionInfoRow](_.beginSnapshot, _.endSnapshot, snap)(p))
      .sortBy(_.partitionId).lastOption.toVector.flatMap { p =>
        partitionColumns.filter(_.partitionId == p.partitionId)
          .sortBy(_.partitionKeyIndex)
          .flatMap(pc => columnsOf(tableId, snap).find(_.columnId == pc.columnId))
      }

  /** per-file partition values of a table, keyed by lowercase column name.
    * Key indexes resolve against the partition spec live when the file was
    * written (its begin snapshot), so spec changes never mislabel old files.
    */
  def partitionValuesOf(tableId: Long): Map[Long, Map[String, String]] = {
    val byFile = filePartitionValues.filter(_.tableId == tableId).groupBy(_.dataFileId)
    if (byFile.isEmpty) return Map.empty
    // this runs at PLAN time per query: index files once and memoize the
    // spec per distinct write snapshot — the per-file find +
    // partitionColumnsOf recompute was O(files × keys × columns) on a
    // 100k-file partitioned table (review-found)
    val fileById = dataFiles.iterator
      .filter(f => byFile.contains(f.dataFileId)).map(f => f.dataFileId -> f).toMap
    val keyColsAt = scala.collection.mutable.Map.empty[Long, Vector[ColumnRow]]
    byFile.flatMap { case (fid, rows) =>
      fileById.get(fid).map { f =>
        val keyCols = keyColsAt.getOrElseUpdate(f.beginSnapshot,
          partitionColumnsOf(tableId, f.beginSnapshot))
        fid -> rows.flatMap { r =>
          for {
            c <- keyCols.lift(r.partitionKeyIndex)
            v <- r.partitionValue
          } yield c.columnName.toLowerCase -> v
        }.toMap
      }
    }
  }

  // counters come from the HIGHEST snapshot, not sheet row order:
  // currentSnapshot already uses max(snapshotId), and a foreign writer
  // (or a user sorting the sheet in Excel) may store rows unordered — a
  // lastOption read of an older row would re-allocate live catalog ids
  // (review-found)
  def nextCatalogId: Long =
    snapshots.maxByOption(_.snapshotId).map(_.nextCatalogId).getOrElse(1L)

  def nextFileId: Long =
    snapshots.maxByOption(_.snapshotId).map(_.nextFileId).getOrElse(1L)

  // -------------------------------------------------------------- sheets
  private def optS(o: Option[Long]): String = o.map(_.toString).getOrElse("")

  /** serialize to (sheetName, header+rows) — all values as strings, NULL as
    * empty cell (coercion table SURVEY.md §1.3)
    */
  def toSheets: Seq[XlsxSheet] = {
    // each known sheet's header is its CatalogSchema.tables entry
    def sheet(table: String, rows: Seq[Seq[String]]): XlsxSheet =
      XlsxSheet(CatalogSchema.sheetName(table), CatalogSchema.header(table) +: rows)
    Seq(
      sheet("ducklake_metadata", metadata.map(kv => Seq(kv._1, kv._2))),
      sheet("ducklake_snapshot",
        snapshots.map(s => Seq(s.snapshotId.toString, s.snapshotTime,
          s.schemaVersion.toString, s.nextCatalogId.toString, s.nextFileId.toString))),
      sheet("ducklake_snapshot_changes",
        snapshotChanges.map(c => Seq(c.snapshotId.toString, c.changesMade))),
      sheet("ducklake_schema",
        schemas.map(s => Seq(s.schemaId.toString, s.schemaUuid,
          s.beginSnapshot.toString, optS(s.endSnapshot), s.schemaName))),
      sheet("ducklake_table",
        tables.map(t => Seq(t.tableId.toString, t.tableUuid, t.beginSnapshot.toString,
          optS(t.endSnapshot), t.schemaId.toString, t.tableName))),
      sheet("ducklake_view",
        views.map(v => Seq(v.viewId.toString, v.viewUuid, v.beginSnapshot.toString,
          optS(v.endSnapshot), v.schemaId.toString, v.viewName, v.sql))),
      // DuckLake v0.1 stores column defaults IN ducklake_column
      // (initial_default / default_value); internally they version as
      // column tags (ALTER SET DEFAULT ends one tag and begins the
      // next), so the sheet renders the ALIVE tag per column — a real
      // DuckLake reader of this workbook sees the current defaults
      sheet("ducklake_column",
        columns.map { c =>
          def aliveTag(key: String): String =
            columnTags.filter(t => t.tableId == c.tableId &&
                t.columnId == c.columnId && t.key == key && t.endSnapshot.isEmpty)
              .sortBy(_.beginSnapshot).lastOption.map(_.value).getOrElse("")
          Seq(c.columnId.toString, c.beginSnapshot.toString,
            optS(c.endSnapshot), c.tableId.toString, c.columnOrder.toString,
            c.columnName, c.columnType, c.nullsAllowed.toString,
            aliveTag("initial_default"), aliveTag("default"))
        }),
      sheet("ducklake_partition_info",
        partitionInfo.map(p => Seq(p.partitionId.toString, p.tableId.toString,
          p.beginSnapshot.toString, optS(p.endSnapshot)))),
      sheet("ducklake_partition_column",
        partitionColumns.map(p => Seq(p.partitionId.toString, p.tableId.toString,
          p.partitionKeyIndex.toString, p.columnId.toString))),
      sheet("ducklake_data_file",
        dataFiles.map(f => Seq(f.dataFileId.toString, f.tableId.toString,
          f.beginSnapshot.toString, optS(f.endSnapshot), f.path,
          f.recordCount.toString, f.fileSizeBytes.toString, optS(f.mappingId)))),
      sheet("ducklake_column_mapping",
        columnMappings.map(m => Seq(m.mappingId.toString, m.tableId.toString, m.mapType))),
      sheet("ducklake_name_mapping",
        nameMappings.map(m => Seq(m.mappingId.toString, m.columnId.toString,
          m.sourceName, m.targetName, m.hivePartition.toString))),
      sheet("ducklake_file_partition_value",
        filePartitionValues.map(p => Seq(p.dataFileId.toString, p.tableId.toString,
          p.partitionKeyIndex.toString, p.partitionValue.getOrElse("")))),
      sheet("ducklake_delete_file",
        deleteFiles.map(f => Seq(f.deleteFileId.toString, f.tableId.toString,
          f.beginSnapshot.toString, optS(f.endSnapshot), f.dataFileId.toString,
          f.path, f.deleteCount.toString))),
      sheet("ducklake_table_stats",
        tableStats.map(t => Seq(t.tableId.toString, t.recordCount.toString))),
      sheet("ducklake_files_scheduled_for_deletion",
        scheduledDeletes.map(s => Seq(s.dataFileId.toString, s.tableId.toString,
          s.path, s.scheduleStart))),
      sheet("ducklake_inlined_data_tables",
        inlinedData.map(_.tableId).distinct.sorted.map(id =>
          Seq(id.toString, CatalogState.inlineSheetName(id)))),
      sheet("ducklake_tag",
        tags.map(t => Seq(t.objectId.toString, t.beginSnapshot.toString,
          optS(t.endSnapshot), t.key, t.value))),
      sheet("ducklake_column_tag",
        columnTags.map(t => Seq(t.tableId.toString, t.columnId.toString,
          t.beginSnapshot.toString, optS(t.endSnapshot), t.key, t.value))),
      sheet("ducklake_file_column_statistics",
        fileColumnStats.map(f => Seq(f.dataFileId.toString, f.tableId.toString,
          f.columnId.toString, f.minValue.getOrElse(""), f.maxValue.getOrElse(""),
          f.nullCount.toString)))
    ) ++ inlineDataSheets ++ extraSheets
  }

  /** one dynamic sheet per table holding inlined rows: header =
    * begin_snapshot, end_snapshot, c0..c{n-1} (cells positional — the
    * real column names live in ducklake_column)
    */
  private def inlineDataSheets: Seq[XlsxSheet] =
    inlinedData.map(_.tableId).distinct.sorted.map { id =>
      val rows = inlinedData.filter(_.tableId == id)
      val arity = rows.map(_.cells.length).maxOption.getOrElse(0)
      XlsxSheet(CatalogState.inlineSheetName(id),
        (Seq("begin_snapshot", "end_snapshot") ++ (0 until arity).map(i => s"c$i")) +:
          rows.map(r => Seq(r.beginSnapshot.toString,
            r.endSnapshot.map(_.toString).getOrElse("")) ++ r.cells.padTo(arity, "")))
    }
}

/** (name, rows) — row 0 is the header */
final case class XlsxSheet(name: String, rows: Seq[Seq[String]])

object CatalogState {
  val empty: CatalogState = CatalogState(
    Vector.empty, Vector.empty, Vector.empty, Vector.empty, Vector.empty,
    Vector.empty, Vector.empty, Vector.empty, Vector.empty, Vector.empty,
    Vector.empty, Vector.empty, Vector.empty, Vector.empty, Vector.empty,
    Vector.empty, Vector.empty, Vector.empty, Vector.empty)

  // ------------------------------------------------- §1.3 cell coercions
  /** empty cell -> NULL (ducklakexl.py:497) */
  def optCell(s: String): Option[String] = {
    val t = s.trim
    if (isNullCell(t)) None else Some(t)
  }

  private def isNullCell(t: String): Boolean =
    t.isEmpty || t == "<NA>" || t == "nan" || t == "None" || t == "NaT"

  /** a data-value cell (min/max stat, partition value, inlined row cell):
    * NULL as for [[optCell]], but the value kept as written. Trimming
    * changes the value ("z " to "z", "a" + U+0001 to "a"), and pruning on
    * a moved bound skips files that hold matching rows.
    */
  def optValue(s: String): Option[String] = if (isNullCell(s.trim)) None else Some(s)

  def asLong(s: String): Long = {
    val t = s.trim
    // Excel numeric cells may come back as "3.0" — or "1E+15" (scientific
    // without a '.', which a contains-'.' test missed and toLong threw
    // on); parse any non-plain spelling exactly and REJECT fractions
    // loudly instead of truncating (review-found)
    if (t.forall(c => c.isDigit || c == '-')) t.toLong
    else {
      val bd = BigDecimal(t)
      require(bd.isWhole, s"expected an integral cell value, got: $s")
      bd.toLongExact
    }
  }

  /** boolean via string prefix, case-insensitive: t…->true, f…->false,
    * else NULL (ducklakexl.py:434-453 — Excel turns cells into native
    * bools whose round-trip spelling varies)
    */
  def asBool(s: String): Option[Boolean] = s.trim.toLowerCase match {
    case t if t.startsWith("t") || t == "1" => Some(true)
    case f if f.startsWith("f") || f == "0" => Some(false)
    case _ => None
  }

  private def cell(row: Seq[String], i: Int): String =
    if (i < row.length) row(i) else ""

  /** parse sheets (as read from xlsx) back into a typed state; sheets are
    * matched by name, missing ones are empty; column positions come from
    * each sheet's own header row (robust to column reordering by Excel)
    */
  private[lake] def inlineSheetName(tableId: Long): String = s"inlined_data_$tableId"

  /** one data row seen through its sheet's header, read like a
    * header -> cell map: `m(k)` throws on a header the sheet lacks,
    * `getOrElse` falls back, a short row reads "", and a duplicate header
    * resolves to its last column. `index` is built once per sheet.
    */
  private final class HeaderRow(index: Map[String, Int], cells: Seq[String]) {
    def apply(k: String): String = index.getOrElse(k, -1) match {
      case -1 => throw new NoSuchElementException(s"key not found: $k")
      case i => cell(cells, i)
    }
    def getOrElse(k: String, d: String): String = index.getOrElse(k, -1) match {
      case -1 => d
      case i => cell(cells, i)
    }
  }

  def fromSheets(sheets: Seq[XlsxSheet]): CatalogState = {
    val byName = sheets.map(s => s.name -> s).toMap
    def rowsOf(table: String): Seq[HeaderRow] = {
      byName.get(CatalogSchema.sheetName(table)) match {
        case Some(XlsxSheet(_, rows)) if rows.nonEmpty =>
          val index = rows.head.map(_.trim).zipWithIndex.toMap
          rows.tail.filter(_.exists(_.nonEmpty)).map(new HeaderRow(index, _))
        case _ => Seq.empty
      }
    }
    def ol(s: String): Option[Long] = optCell(s).map(asLong)
    // inlined-data registry first: its referenced dynamic sheets must be
    // parsed as typed rows, not carried as extraSheets
    val inlineReg = rowsOf("ducklake_inlined_data_tables")
      .map(m => (asLong(m("table_id")), m.getOrElse("sheet_name", "")))
    val inlineNames = inlineReg.map(_._2).toSet
    val inlinedParsed = inlineReg.flatMap { case (tid, sn) =>
      byName.get(sn).toSeq.flatMap {
        case XlsxSheet(_, rows) if rows.nonEmpty =>
          rows.tail.filter(_.exists(_.nonEmpty)).map { r =>
            InlinedDataRow(tid, asLong(cell(r, 0)),
              ol(cell(r, 1)), r.drop(2).toVector)
          }
        case _ => Seq.empty
      }
    }.toVector
    // columns + their tag registry parse together: DuckLake v0.1 carries
    // column defaults in ducklake_column itself (initial_default /
    // default_value). A workbook written by a real DuckLake has no
    // column_tag rows for them — synthesize tags so this engine's
    // default machinery sees them; our own workbooks also carry the
    // versioned tags, which win (no duplication).
    val colMaps = rowsOf("ducklake_column")
    val parsedColumns = colMaps.map(m => ColumnRow(
      asLong(m("column_id")), asLong(m("begin_snapshot")),
      ol(m.getOrElse("end_snapshot", "")), asLong(m("table_id")),
      asLong(m("column_order")).toInt, m("column_name"), m("column_type"),
      asBool(m.getOrElse("nulls_allowed", "true")).getOrElse(true))).toVector
    val parsedColumnTags = rowsOf("ducklake_column_tag").map(m => ColumnTagRow(
      asLong(m("table_id")), asLong(m("column_id")), asLong(m("begin_snapshot")),
      ol(m.getOrElse("end_snapshot", "")), m.getOrElse("key", ""),
      m.getOrElse("value", ""))).toVector
    // synthesize from the LIVE column-row version first (r12 review
    // fix): a foreign workbook where a column's DEFAULT was altered has
    // an ended row version and a live one with different default cells;
    // distinctBy keeps the first hit, which must be the live row's
    // value, not the stale ended version's
    val synthesizedTags = colMaps.zip(parsedColumns)
      .sortBy { case (_, c) => (c.endSnapshot.isDefined, -c.beginSnapshot) }
      .flatMap { case (m, c) =>
        def synth(cellKey: String, tagKey: String): Option[ColumnTagRow] =
          optCell(m.getOrElse(cellKey, ""))
            .filter(_ => !parsedColumnTags.exists(t => t.tableId == c.tableId &&
              t.columnId == c.columnId && t.key == tagKey))
            .map(v => ColumnTagRow(c.tableId, c.columnId, c.beginSnapshot, None, tagKey, v))
        synth("initial_default", "initial_default").toSeq ++
          synth("default_value", "default").toSeq
      }.distinctBy(t => (t.tableId, t.columnId, t.key)).toVector
    CatalogState(
      metadata = rowsOf("ducklake_metadata")
        .map(m => (m.getOrElse("key", ""), m.getOrElse("value", ""))).toVector
        .map { case (k, v) =>
          // 'encrypted' flag lower-cased on pull (ducklakexl.py:501-505):
          // Excel native bools round-trip as 'True'/'False'
          if (k == "encrypted") (k, v.toLowerCase) else (k, v)
        },
      snapshots = rowsOf("ducklake_snapshot").map(m => SnapshotRow(
        asLong(m("snapshot_id")), m.getOrElse("snapshot_time", ""),
        ol(m.getOrElse("schema_version", "")).getOrElse(0L),
        ol(m.getOrElse("next_catalog_id", "")).getOrElse(1L),
        ol(m.getOrElse("next_file_id", "")).getOrElse(1L))).toVector,
      snapshotChanges = rowsOf("ducklake_snapshot_changes").map(m => SnapshotChangeRow(
        asLong(m("snapshot_id")), m.getOrElse("changes_made", ""))).toVector,
      schemas = rowsOf("ducklake_schema").map(m => SchemaRow(
        asLong(m("schema_id")), m.getOrElse("schema_uuid", ""),
        asLong(m("begin_snapshot")), ol(m.getOrElse("end_snapshot", "")),
        m.getOrElse("schema_name", "main"))).toVector,
      tables = rowsOf("ducklake_table").map(m => TableRow(
        asLong(m("table_id")), m.getOrElse("table_uuid", ""),
        asLong(m("begin_snapshot")), ol(m.getOrElse("end_snapshot", "")),
        ol(m.getOrElse("schema_id", "")).getOrElse(0L), m("table_name"))).toVector,
      views = rowsOf("ducklake_view").map(m => ViewRow(
        asLong(m("view_id")), m.getOrElse("view_uuid", ""),
        asLong(m("begin_snapshot")), ol(m.getOrElse("end_snapshot", "")),
        ol(m.getOrElse("schema_id", "")).getOrElse(0L), m("view_name"),
        m.getOrElse("sql", ""))).toVector,
      columns = parsedColumns,
      // partition sheets parse defensively (getOrElse) — a foreign tool may
      // have written a partial header before this engine interpreted them
      partitionInfo = rowsOf("ducklake_partition_info").map(m => PartitionInfoRow(
        asLong(m("partition_id")), asLong(m("table_id")),
        ol(m.getOrElse("begin_snapshot", "")).getOrElse(0L),
        ol(m.getOrElse("end_snapshot", "")))).toVector,
      partitionColumns = rowsOf("ducklake_partition_column").map(m => PartitionColumnRow(
        asLong(m("partition_id")), asLong(m("table_id")),
        ol(m.getOrElse("partition_key_index", "")).getOrElse(0L).toInt,
        asLong(m("column_id")))).toVector,
      filePartitionValues = rowsOf("ducklake_file_partition_value").map(m => FilePartitionValueRow(
        asLong(m("data_file_id")), asLong(m("table_id")),
        ol(m.getOrElse("partition_key_index", "")).getOrElse(0L).toInt,
        optValue(m.getOrElse("partition_value", "")))).toVector,
      dataFiles = rowsOf("ducklake_data_file").map(m => DataFileRow(
        asLong(m("data_file_id")), asLong(m("table_id")), asLong(m("begin_snapshot")),
        ol(m.getOrElse("end_snapshot", "")), m("path"),
        ol(m.getOrElse("record_count", "")).getOrElse(0L),
        ol(m.getOrElse("file_size_bytes", "")).getOrElse(0L),
        ol(m.getOrElse("mapping_id", "")))).toVector,
      columnMappings = rowsOf("ducklake_column_mapping").map(m => ColumnMappingRow(
        ol(m.getOrElse("mapping_id", "")).getOrElse(0L),
        ol(m.getOrElse("table_id", "")).getOrElse(0L),
        m.getOrElse("type", "map_by_name"))).toVector,
      nameMappings = rowsOf("ducklake_name_mapping").map(m => NameMappingRow(
        ol(m.getOrElse("mapping_id", "")).getOrElse(0L),
        ol(m.getOrElse("column_id", "")).getOrElse(0L),
        m.getOrElse("source_name", ""), m.getOrElse("target_name", ""),
        asBool(m.getOrElse("hive_partition", "")).getOrElse(false))).toVector,
      deleteFiles = rowsOf("ducklake_delete_file").map(m => DeleteFileRow(
        asLong(m("delete_file_id")), asLong(m("table_id")), asLong(m("begin_snapshot")),
        ol(m.getOrElse("end_snapshot", "")),
        ol(m.getOrElse("data_file_id", "")).getOrElse(0L), m.getOrElse("path", ""),
        ol(m.getOrElse("delete_count", "")).getOrElse(0L))).toVector,
      tableStats = rowsOf("ducklake_table_stats").map(m => TableStatsRow(
        asLong(m("table_id")),
        ol(m.getOrElse("record_count", "")).getOrElse(0L))).toVector,
      scheduledDeletes = rowsOf("ducklake_files_scheduled_for_deletion").map(m =>
        ScheduledDeleteRow(asLong(m("data_file_id")), asLong(m("table_id")),
          m.getOrElse("path", ""), m.getOrElse("schedule_start", ""))).toVector,
      inlinedData = inlinedParsed,
      tags = rowsOf("ducklake_tag").map(m => TagRow(
        asLong(m("object_id")), asLong(m("begin_snapshot")),
        ol(m.getOrElse("end_snapshot", "")), m.getOrElse("key", ""),
        m.getOrElse("value", ""))).toVector,
      columnTags = parsedColumnTags ++ synthesizedTags,
      fileColumnStats = rowsOf("ducklake_file_column_statistics").map(m => FileColumnStatsRow(
        asLong(m("data_file_id")), asLong(m("table_id")), asLong(m("column_id")),
        optValue(m.getOrElse("min_value", "")), optValue(m.getOrElse("max_value", "")),
        ol(m.getOrElse("null_count", "")).getOrElse(0L))).toVector,
      extraSheets = sheets.filterNot(s =>
        CatalogSchema.knownSheetNames.contains(s.name) ||
          inlineNames.contains(s.name)).toVector
    )
  }
}
