package graft.lake

import scala.collection.mutable

/** Multi-statement script handling (SURVEY.md §3.2/§7.4). The reference
  * passes whole scripts to DuckDB, which executes every statement and
  * returns the last relation (README.md:70-74, notebook cells 4/8:
  * DELETE+INSERT+SELECT in one string). `spark.sql` is single-statement,
  * so we split (respecting quotes and comments) and classify each
  * statement for the router in DuckLakeXLSpark.
  *
  * One quote rule holds for the whole dialect layer. [[split]] alone
  * sees comments: it strips `--` and block comments while it cuts the
  * script at top-level `;`. Every scanner after it reads quote state from
  * one state machine, [[quoteKinds]] (or [[literalMask]], derived from
  * it), and keeps only its own depth and keyword logic. The rule is
  * DuckDB's: `'…'` is a string literal in which `''` is an escaped quote
  * and a backslash is an ordinary character; `"…"` is a quoted
  * identifier; both spans include their quotes, and an unterminated span
  * runs to the end of the text.
  */
object StatementRouter {

  /** split on top-level ';', honoring '…', "…", -- line comments and
    * block comments
    */
  def split(script: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var i = 0
    val n = script.length
    var state: Int = 0 // 0 normal, 1 single-quote, 2 double-quote, 3 line comment, 4 block comment
    while (i < n) {
      val c = script.charAt(i)
      state match {
        case 0 =>
          if (c == '\'') { state = 1; cur.append(c) }
          else if (c == '"') { state = 2; cur.append(c) }
          else if (c == '-' && i + 1 < n && script.charAt(i + 1) == '-') { state = 3 }
          else if (c == '/' && i + 1 < n && script.charAt(i + 1) == '*') { state = 4; i += 1 }
          else if (c == ';') { out += cur.toString; cur.clear() }
          else cur.append(c)
        case 1 =>
          cur.append(c)
          if (c == '\'') {
            if (i + 1 < n && script.charAt(i + 1) == '\'') { cur.append('\''); i += 1 } // escaped ''
            else state = 0
          }
        case 2 =>
          cur.append(c)
          if (c == '"') state = 0
        case 3 =>
          if (c == '\n') { state = 0; cur.append(c) }
        case 4 =>
          // closing a block comment leaves ONE space so the tokens on
          // either side don't merge ("a/*x*/b" is `a` aliased `b`, not
          // a column `ab` — review-found)
          if (c == '*' && i + 1 < n && script.charAt(i + 1) == '/') {
            state = 0; i += 1; cur.append(' ')
          }
      }
      i += 1
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** [[quoteKinds]] values: outside quotes, inside a `'…'` string
    * literal, inside a `"…"` quoted identifier
    */
  private[graft] final val Unquoted: Byte = 0
  private[graft] final val InString: Byte = 1
  private[graft] final val InIdent: Byte = 2

  /** the one quote state machine after [[split]]: the quote kind of each
    * char of `s` (the object scaladoc states the rule)
    */
  private[graft] def quoteKinds(s: String): Array[Byte] = {
    val k = new Array[Byte](s.length)
    var state = Unquoted
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (state == Unquoted) {
        if (c == '\'') state = InString else if (c == '"') state = InIdent
        k(i) = state
      } else {
        k(i) = state
        if (state == InString && c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { k(i + 1) = state; i += 1 }
          else state = Unquoted
        } else if (state == InIdent && c == '"') state = Unquoted
      }
      i += 1
    }
    k
  }

  /** true at each position of `s` inside a literal or quoted identifier;
    * compute it once per string and pass it down
    */
  private[graft] def literalMask(s: String): Array[Boolean] = {
    val k = quoteKinds(s)
    val m = new Array[Boolean](k.length)
    var i = 0
    while (i < k.length) { m(i) = k(i) != Unquoted; i += 1 }
    m
  }

  /** apply `f` to each run of `s` outside literals and quoted
    * identifiers: rewrite regexes never touch string contents or a name
    * like `"main.t"`
    */
  private[graft] def mapOutsideLiterals(s: String)(f: String => String): String = {
    val lit = literalMask(s)
    val out = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      var j = i
      while (j < s.length && lit(j) == lit(i)) j += 1
      if (lit(i)) out.append(s, i, j) else out.append(f(s.substring(i, j)))
      i = j
    }
    out.toString
  }

  private def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'

  /** index of the `close` char that balances the `open` char at `at`,
    * counting only chars outside `lit`; -1 when there is none
    */
  private def matchingClose(s: String, at: Int, open: Char, close: Char,
                            lit: Array[Boolean]): Int = {
    var i = at
    var depth = 0
    while (i < s.length) {
      if (!lit(i)) {
        val c = s.charAt(i)
        if (c == open) depth += 1
        else if (c == close) { depth -= 1; if (depth == 0) return i }
      }
      i += 1
    }
    -1
  }

  sealed trait Stmt
  /** one parsed column definition: type plus the DuckDB column
    * constraints this engine carries (NOT NULL enforced at write time,
    * DEFAULT filled at insert, CHECK enforced at write time; UNIQUE and
    * REFERENCES refuse loudly — unenforceable here)
    */
  final case class ColDef(name: String, ty: String, notNull: Boolean = false,
                          default: Option[String] = None,
                          check: Option[String] = None)
  final case class CreateTable(name: String, cols: Seq[(String, String)], ifNotExists: Boolean,
                               orReplace: Boolean = false,
                               pk: Seq[String] = Nil,
                               temp: Boolean = false,
                               defs: Seq[ColDef] = Nil,
                               tableChecks: Seq[String] = Nil) extends Stmt
  final case class CreateTableAs(name: String, select: String, ifNotExists: Boolean,
                                 orReplace: Boolean = false,
                                 temp: Boolean = false) extends Stmt
  /** `COPY <table | (query)> TO 'path' (FORMAT fmt)` — export, like the
    * DuckDB pass-through; format defaults from the path extension
    */
  final case class CopyTo(source: String, path: String, format: Option[String],
                          partitionBy: Seq[String] = Nil,
                          writerOptions: Map[String, String] = Map.empty,
                          overwrite: Boolean = false) extends Stmt
  /** `COPY t FROM 'path' (FORMAT fmt, DELIMITER …, HEADER …)` — file
    * ingestion into a lake table; options parse through the same
    * whitelist as COPY TO (reader side) */
  final case class CopyFrom(table: String, path: String, format: Option[String],
                            readerOptions: Map[String, String] = Map.empty) extends Stmt
  /** `EXPORT DATABASE 'dir' [(FORMAT fmt)]` — whole-lake export: DuckDB's
    * shape (schema.sql + load.sql + one data file per table); format
    * defaults to csv like the reference engine's
    */
  final case class ExportDb(path: String, format: Option[String]) extends Stmt
  /** `IMPORT DATABASE 'dir'` — replays an exported schema.sql + load.sql */
  final case class ImportDb(path: String) extends Stmt
  /** cols = optional explicit column list `INSERT INTO t(a, b) …` */
  final case class InsertValues(table: String, cols: Option[Seq[String]], valuesSql: String) extends Stmt
  /** byName: DuckDB `INSERT INTO t BY NAME SELECT …` — the source's own
    * column NAMES map to table columns (order-free, missing cols NULL) */
  final case class InsertSelect(table: String, cols: Option[Seq[String]], select: String,
                                byName: Boolean = false) extends Stmt
  final case class Delete(table: String, where: Option[String]) extends Stmt
  final case class Update(table: String, sets: Seq[(String, String)], where: Option[String]) extends Stmt
  /** DuckDB DML `… RETURNING <exprs>`: the statement's result is the
    * affected rows (post-image for INSERT/UPDATE, deleted rows for
    * DELETE) projected through `exprs`
    */
  final case class Returning(inner: Stmt, exprs: String) extends Stmt
  final case class DropTable(name: String, ifExists: Boolean) extends Stmt
  /** ALTER TABLE: rename-table / add-column / drop-column / rename-column.
    * RENAME COLUMN keeps the columnId and swaps the name's lifetime; scans
    * resolve each file's PHYSICAL name from the catalog at its write
    * snapshot (the DuckLake name-mapping idea, columnId-keyed).
    */
  sealed trait AlterOp
  final case class RenameTo(newName: String) extends AlterOp
  final case class AddColumn(name: String, sqlType: String) extends AlterOp
  final case class DropColumn(name: String) extends AlterOp
  final case class RenameColumn(oldName: String, newName: String) extends AlterOp
  /** `ALTER TABLE t ALTER [COLUMN] c [SET DATA] TYPE X` — type WIDENING
    * (INT->BIGINT etc.): same columnId, new column_type lifetime epoch;
    * files written before the alter scan under their physical type and
    * cast up (DuckLake type promotion; the reference gets it free from
    * DuckDB, ducklakexl.py:394)
    */
  final case class AlterColumnType(name: String, sqlType: String) extends AlterOp
  /** `ALTER COLUMN c SET DEFAULT e` / `DROP DEFAULT` (expr None) */
  final case class SetColumnDefault(name: String, expr: Option[String]) extends AlterOp
  /** `ALTER COLUMN c SET NOT NULL` (validates existing rows) / `DROP NOT NULL` */
  final case class SetColumnNotNull(name: String, notNull: Boolean) extends AlterOp
  /** `ALTER TABLE t SET PARTITIONED BY (c1, …)` — DuckLake's partition-spec
    * DDL (metadata-only; applies to files written from now on)
    */
  final case class SetPartitionedBy(cols: Seq[String]) extends AlterOp
  final case class AlterTable(table: String, op: AlterOp) extends Stmt
  final case class CreateView(name: String, select: String, orReplace: Boolean) extends Stmt
  final case class DropView(name: String, ifExists: Boolean) extends Stmt
  final case class Use(name: String) extends Stmt
  /** `CREATE SCHEMA s` / `DROP SCHEMA s [CASCADE]` — DuckLake multi-schema
    * (`ducklake_schema` rows with snapshot lifetimes)
    */
  final case class CreateSchema(name: String, ifNotExists: Boolean) extends Stmt
  final case class DropSchema(name: String, ifExists: Boolean, cascade: Boolean) extends Stmt
  /** `COMMENT ON TABLE t IS '…'` / `COMMENT ON COLUMN t.c IS '…'` —
    * persisted as DuckLake tags (key='comment'); IS NULL clears
    */
  final case class CommentOn(table: String, column: Option[String],
                             comment: Option[String]) extends Stmt
  case object ShowTables extends Stmt
  final case class Describe(name: String) extends Stmt
  /** `PRAGMA table_info('t')` — DuckDB's sqlite-style column listing
    * (cid/name/type/notnull/dflt_value/pk), distinct from DESCRIBE's shape
    */
  final case class TableInfo(name: String) extends Stmt
  /** `PRAGMA database_size` — storage/memory footprint readout (DuckDB's
    * column shape, sized from the lake's data directory)
    */
  case object DatabaseSize extends Stmt
  /** `PRAGMA version` — library_version / source_id readout */
  case object VersionInfo extends Stmt

  /** DuckDB `DESCRIBE SELECT …` — the schema of a query, not a table */
  final case class DescribeQuery(select: String) extends Stmt

  /** DuckDB `SET key = value` — the few options with a Spark analogue
    * apply; the rest tolerate silently (they configure a DuckDB engine
    * this build does not run)
    */
  final case class SetOption(key: String, value: String) extends Stmt
  /** DuckDB session variables: `SET VARIABLE x = <expr>` evaluates the
    * expression ONCE at set time; `getvariable('x')` reads it back */
  final case class SetVariable(name: String, expr: String) extends Stmt
  final case class ResetVariable(name: String) extends Stmt
  case object Vacuum extends Stmt
  /** DuckDB's `SUMMARIZE t` — per-column stats in one table pass */
  final case class Summarize(name: String) extends Stmt

  /** DuckDB scalar macro (`CREATE MACRO f(a, b) AS a + b`): a named SQL
    * expression template, expanded TEXTUALLY into later statements the
    * way DuckDB binds macros at plan time. Lifetime = the lake object,
    * mirroring the reference's per-connection DuckDB catalog (macros are
    * not DuckLake catalog objects in the spec — no sheet round-trip).
    */
  /** `PREPARE name AS <stmt with $1/$2 or ?>` / `EXECUTE name(args)` /
    * `DEALLOCATE [PREPARE] [IF EXISTS] name` — DuckDB prepared
    * statements; EXECUTE binds the argument texts positionally and the
    * bound statement re-enters the normal routing pipeline */
  final case class Prepare(name: String, sql: String) extends Stmt
  final case class Execute(name: String, args: Seq[String]) extends Stmt
  final case class Deallocate(name: String, ifExists: Boolean) extends Stmt
  final case class CreateMacro(name: String, params: Seq[String], body: String,
      orReplace: Boolean) extends Stmt
  final case class DropMacro(name: String, ifExists: Boolean) extends Stmt

  /** DuckDB `PIVOT t ON c [USING agg [AS name], …] [GROUP BY g, …]`.
    * Spark's PIVOT clause needs the IN value list DuckDB discovers for
    * itself — the executor scans the distinct pivot-column values
    * (exactly what DuckDB's binder does) and builds the grouped pivot.
    * `using` is the parsed (aggExpr, alias) list; empty = count(*).
    */
  final case class Pivot(table: String, onCol: String,
      using: Seq[(String, Option[String])],
      groupBy: Option[Seq[String]],
      orderBy: Option[String] = None) extends Stmt
  final case class Explain(select: String) extends Stmt
  /** `EXPLAIN ANALYZE q` — runs q and reports the executed plan with
    * per-operator runtime metrics (rows, time), like the DuckDB form
    */
  final case class ExplainAnalyze(select: String) extends Stmt
  /** `MERGE INTO` upsert — a Spark-native extension (the reference's
    * engine has no MERGE): copy-on-write over the affected target files.
    * Supported: WHEN MATCHED THEN UPDATE SET … / DELETE, WHEN NOT MATCHED
    * THEN INSERT [(cols)] VALUES (…). Source = table name or (query),
    * each side optionally aliased; a target row matched by multiple
    * source rows errors (standard MERGE cardinality rule).
    */
  final case class Merge(table: String, tgtAlias: String,
                         sourceSql: String, srcAlias: String, on: String,
                         matchedSets: Option[Seq[(String, String)]],
                         matchedDelete: Boolean,
                         notMatchedInsert: Option[(Option[Seq[String]], String)]) extends Stmt

  /** `INSERT … ON CONFLICT` / `INSERT OR REPLACE|IGNORE` — DuckDB's
    * upsert spellings. Desugared at execution into the [[Merge]]
    * machinery (same copy-on-write shape): conflict target columns (or
    * the table's declared PRIMARY KEY when omitted) become the ON
    * condition, DO UPDATE SET becomes WHEN MATCHED (with `EXCLUDED.x`
    * mapped to the source alias), DO NOTHING / OR IGNORE keeps only the
    * NOT MATCHED insert, OR REPLACE updates every non-key column.
    */
  sealed trait ConflictAction
  case object ConflictNothing extends ConflictAction
  final case class ConflictUpdate(sets: Seq[(String, String)]) extends ConflictAction
  case object ConflictReplace extends ConflictAction
  final case class InsertOnConflict(table: String, cols: Option[Seq[String]],
      body: String, conflictCols: Seq[String],
      action: ConflictAction) extends Stmt

  /** `ATTACH 'ducklake:…' [AS name] (DATA_PATH '…')` — the reference's
    * init script runs this through DuckDB (ducklakexl.py:236); here attach
    * semantics live in the constructor, so a replayed script validates the
    * alias and no-ops instead of erroring as an unparseable SELECT.
    */
  final case class Attach(target: String, alias: Option[String],
                          dataPath: Option[String]) extends Stmt
  case object Detach extends Stmt
  /** `SHOW DATABASES` / `SHOW SCHEMAS` — the attached-catalog and
    * schema listings a DuckDB user orients with
    */
  case object ShowDatabases extends Stmt
  case object ShowSchemas extends Stmt

  /** `CREATE SEQUENCE` / `DROP SEQUENCE` — DuckDB's id-generation
    * surface. Sequence state persists as a `ducklake_metadata` row
    * (`seq:<name>` -> "last,increment"), so it survives push/pull and
    * concurrent-writer CAS like every other catalog fact. `nextval` is
    * honored in INSERT … VALUES and FROM-less SELECTs (driver-evaluable,
    * each textual occurrence draws once, left to right); a per-row draw
    * over a distributed scan is refused loudly rather than silently
    * computed once.
    */
  final case class CreateSequence(name: String, start: Long, incr: Long,
      ifNotExists: Boolean, orReplace: Boolean) extends Stmt
  final case class DropSequence(name: String, ifExists: Boolean) extends Stmt

  /** BEGIN/COMMIT/ROLLBACK — the reference's DuckDB honors these
    * (ducklakexl.py:459-464 emits them in its own pull scripts), so they
    * classify as real statements: the executor snapshots/restores the
    * in-memory catalog state. ROLLBACK as a silent no-op would KEEP the
    * rolled-back writes (r10 fix). */
  case object Begin extends Stmt
  case object Commit extends Stmt
  case object Rollback extends Stmt
  case object NoOp extends Stmt
  final case class Select(sql: String) extends Stmt

  private val CreateRe =
    """(?is)^\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?(?:(TEMP|TEMPORARY)\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w\.\"]+)\s*(.*)$""".r
  private val CopyRe =
    """(?is)^\s*COPY\s+(.+?)\s+TO\s+'([^']+)'\s*(?:\((.*)\))?\s*$""".r
  private val CopyFromRe =
    """(?is)^\s*COPY\s+([\w\.\"]+)\s+FROM\s+'([^']+)'\s*(?:\((.*)\))?\s*$""".r
  private val ExportDbRe =
    """(?is)^\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*FORMAT\s+'?(\w+)'?\s*\))?\s*$""".r
  private val ImportDbRe =
    """(?is)^\s*IMPORT\s+DATABASE\s+'([^']+)'\s*$""".r
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP\s+|TEMPORARY\s+)?VIEW\s+([\w\.\"]+)\s+AS\s+(.*)$""".r
  private val InsertRe =
    """(?is)^\s*INSERT\s+INTO\s+([\w\.\"]+)\s*(.*)$""".r
  private val InsertOrRe =
    """(?is)^\s*INSERT\s+OR\s+(REPLACE|IGNORE)\s+INTO\s+([\w\.\"]+)\s*(.*)$""".r
  private val DeleteRe =
    """(?is)^\s*DELETE\s+FROM\s+([\w\.\"]+)\s*(.*)$""".r
  private val UpdateRe =
    """(?is)^\s*UPDATE\s+([\w\.\"]+)\s+SET\s+(.*)$""".r
  private val DropRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w\.\"]+)\s*$""".r
  private val DropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w\.\"]+)\s*$""".r
  private val AlterRenameRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+RENAME\s+TO\s+([\w\.\"]+)\s*$""".r
  private val AlterAddRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+ADD\s+(?:COLUMN\s+)?([\w\"]+)\s+(.+?)\s*$""".r
  private val AlterDropRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+DROP\s+(?:COLUMN\s+)?([\w\"]+)\s*$""".r
  private val AlterPartitionRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+SET\s+PARTITIONED\s+BY\s*\((.*)\)\s*$""".r
  private val AlterColTypeRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w\"]+)\s+(?:SET\s+DATA\s+)?TYPE\s+(.+?)\s*$""".r
  private val AlterRenameColRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+RENAME\s+(?:COLUMN\s+)?([\w\"]+)\s+TO\s+([\w\"]+)\s*$""".r
  private val AlterSetDefaultRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w\"]+)\s+SET\s+DEFAULT\s+(.+?)\s*$""".r
  private val AlterDropDefaultRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w\"]+)\s+DROP\s+DEFAULT\s*$""".r
  private val AlterSetNotNullRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w\.\"]+)\s+ALTER\s+(?:COLUMN\s+)?([\w\"]+)\s+(SET|DROP)\s+NOT\s+NULL\s*$""".r
  private val TruncateRe =
    """(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?([\w\.\"]+)\s*$""".r
  private val BeginRe = """(?is)^\s*(?:BEGIN|START)(?:\s+TRANSACTION)?\s*$""".r
  private val CommitRe = """(?is)^\s*(?:COMMIT|END)(?:\s+TRANSACTION)?\s*$""".r
  private val RollbackRe = """(?is)^\s*(?:ROLLBACK|ABORT)(?:\s+TRANSACTION)?\s*$""".r
  // CREATE/DROP INDEX: DuckDB accepts them; in the reference the index
  // lives only in the per-connection in-memory engine and is NOT
  // persisted through push/pull — accepted-and-dropped is the faithful
  // behavior, so they classify as session no-ops. CREATE UNIQUE INDEX is
  // different: DuckDB ENFORCES the uniqueness constraint in-session, so
  // dropping it would let duplicate inserts succeed that the reference
  // errors on — silently weaker semantics. Refused loudly instead.
  private val UniqueIndexRe =
    """(?is)^\s*CREATE\s+UNIQUE\s+INDEX\b.*$""".r
  private val IndexRe =
    """(?is)^\s*(?:CREATE\s+INDEX\b|DROP\s+INDEX\b).*$""".r
  // DuckDB session/maintenance statements with no Spark-side action:
  // PRAGMA <anything>, CHECKPOINT (every push IS a checkpoint here),
  // ANALYZE (stats are collected at write time), RESET <key>
  private val SessionNoOpRe =
    """(?is)^\s*(?:PRAGMA|CHECKPOINT|ANALYZE|RESET)\b.*$""".r
  // the PRAGMAs a DuckDB user actually reads output from — routed to the
  // real surfaces instead of the tolerate-and-ignore catch-all above
  private val PragmaShowTablesRe =
    """(?is)^\s*PRAGMA\s+show_tables\s*$""".r
  private val PragmaTableInfoRe =
    """(?is)^\s*PRAGMA\s+table_info\s*\(\s*'?([\w\.]+?)'?\s*\)\s*$""".r
  private val PragmaDatabaseSizeRe =
    """(?is)^\s*PRAGMA\s+database_size\s*$""".r
  private val PragmaVersionRe =
    """(?is)^\s*PRAGMA\s+version\s*$""".r
  private val SetVariableRe =
    """(?is)^\s*SET\s+VARIABLE\s+([\w]+)\s*=\s*(.+?)\s*$""".r
  private val ResetVariableRe =
    """(?is)^\s*RESET\s+VARIABLE\s+([\w]+)\s*$""".r
  private val SetRe =
    """(?is)^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?([\w\.]+)\s*(?:=|\s+TO\s+)\s*(.+?)\s*$""".r
  private val VacuumRe = """(?is)^\s*VACUUM\s*$""".r
  private val UseRe = """(?is)^\s*USE\s+([\w\.\"]+)\s*$""".r
  private val CreateSeqRe =
    """(?is)^\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?SEQUENCE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w\"]+)\s*(.*)$""".r
  private val DropSeqRe =
    """(?is)^\s*DROP\s+SEQUENCE\s+(?:(IF\s+EXISTS)\s+)?([\w\"]+)\s*$""".r
  private val CreateSchemaRe =
    """(?is)^\s*CREATE\s+SCHEMA\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w\.\"]+)\s*$""".r
  private val DropSchemaRe =
    """(?is)^\s*DROP\s+SCHEMA\s+(?:(IF\s+EXISTS)\s+)?([\w\.\"]+?)\s*(CASCADE)?\s*$""".r
  private val AttachRe =
    """(?is)^\s*ATTACH\s+(?:IF\s+NOT\s+EXISTS\s+)?'([^']+)'(?:\s+AS\s+([\w\"]+))?\s*(?:\((.*)\))?\s*$""".r
  private val DetachRe =
    """(?is)^\s*DETACH\s+(?:DATABASE\s+)?(?:IF\s+EXISTS\s+)?([\w\"]+)\s*$""".r
  private val DataPathRe = """(?i)DATA_PATH\s+'([^']+)'""".r
  private val CommentTableRe =
    """(?is)^\s*COMMENT\s+ON\s+TABLE\s+([\w\.\"]+)\s+IS\s+(NULL|'(?:[^']|'')*')\s*$""".r
  private val CommentColumnRe =
    """(?is)^\s*COMMENT\s+ON\s+COLUMN\s+([\w\.\"]+)\.([\w\"]+)\s+IS\s+(NULL|'(?:[^']|'')*')\s*$""".r

  private def unquoteLit(s: String): Option[String] =
    if (s.equalsIgnoreCase("NULL")) None
    else Some(s.stripPrefix("'").stripSuffix("'").replace("''", "'"))
  private val MergeRe =
    """(?is)^\s*MERGE\s+INTO\s+([\w\.\"]+)(?:\s+AS\s+(\w+)|\s+(?!USING\b)(\w+))?\s+USING\s+(.*)$""".r
  private val ShowTablesRe = """(?is)^\s*SHOW\s+(?:ALL\s+)?TABLES\s*$""".r
  private val ShowDatabasesRe = """(?is)^\s*SHOW\s+DATABASES\s*$""".r
  private val ShowSchemasRe = """(?is)^\s*SHOW\s+SCHEMAS\s*$""".r
  // DuckDB's `SHOW t` / `SHOW TABLE t` describe shorthand (checked AFTER
  // the TABLES/DATABASES/SCHEMAS listings so those keywords never parse
  // as a table name)
  private val ShowTableRe = """(?is)^\s*SHOW\s+(?:TABLE\s+)?([\w\.\"]+)\s*$""".r
  private val ExplainAnalyzeRe = """(?is)^\s*EXPLAIN\s+ANALYZE\s+(.*)$""".r
  private val ExplainRe = """(?is)^\s*EXPLAIN\s+(.*)$""".r
  private val DescribeRe = """(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w\.\"]+)\s*$""".r
  private val DescribeSelectRe = """(?is)^\s*DESC(?:RIBE)?\s+((?:SELECT|FROM|WITH)\s+.+)$""".r
  private val SummarizeRe = """(?is)^\s*SUMMARIZE\s+(?:TABLE\s+)?([\w\.\"]+)\s*$""".r
  private val CreateMacroRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?MACRO\s+([\w\"]+)\s*\(([^)]*)\)\s+AS\s+(.+)$""".r
  private val DropMacroRe =
    """(?is)^\s*DROP\s+MACRO\s+(IF\s+EXISTS\s+)?([\w\"]+)\s*$""".r
  private val PrepareRe =
    """(?is)^\s*PREPARE\s+([\w\"]+)\s+AS\s+(.+)$""".r
  private val ExecuteRe =
    """(?is)^\s*EXECUTE\s+([\w\"]+)\s*(?:\((.*)\))?\s*$""".r
  private val DeallocateRe =
    """(?is)^\s*DEALLOCATE\s+(?:PREPARE\s+)?(IF\s+EXISTS\s+)?([\w\"]+)\s*$""".r
  private val PivotRe = """(?is)^\s*PIVOT\s+([\w\.\"]+)\s+ON\s+(.+)$""".r
  private val PivotSubqRe = """(?is)^\s*PIVOT\s*\(""".r
  private val UnpivotRe =
    """(?is)^\s*UNPIVOT\s+([\w\.\"]+)\s+ON\s+(.+?)\s+INTO\s+NAME\s+([\w\"]+)\s+VALUE\s+([\w\"]+)\s*$""".r
  // the short forms: optional INTO clause (defaults name/value — the
  // DuckDB defaults) and a parenthesized subquery target (r14)
  private val UnpivotShortRe =
    """(?is)^\s*UNPIVOT\s+([\w\.\"]+)\s+ON\s+(.+?)\s*$""".r
  private val UnpivotSubqRe = """(?is)^\s*UNPIVOT\s*\(""".r

  private def bareName(n: String): String = {
    // strip optional schema/lake qualifier + quotes: lake.main.t -> t
    n.split('.').last.stripPrefix("\"").stripSuffix("\"")
  }

  /** keep the SCHEMA qualifier (multi-schema), drop a leading lake
    * qualifier: `lake.s.t` -> `s.t`, `s.t` -> `s.t`, `t` -> `t`. A 2-part
    * name whose first part is actually the lake (not a schema) is
    * disambiguated at resolution time in DuckLakeXLSpark.
    */
  private def qualName(n: String): String = {
    val parts = n.split('.').map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
    (if (parts.length >= 3) parts.takeRight(2) else parts).mkString(".")
  }

  /** split `s` at the first occurrence of keyword `kw` that sits at paren
    * depth 0 and outside string literals — the quote-aware replacement for
    * the old lazy-regex WHERE split (`UPDATE t SET v = 'a WHERE b'` must
    * not split inside the literal)
    */
  private[graft] def splitTopLevelKeyword(s: String, kw: String): (String, Option[String]) = {
    val lit = literalMask(s)
    var i = 0
    var depth = 0
    val n = s.length
    while (i < n) {
      if (!lit(i)) s.charAt(i) match {
        case '('  => depth += 1
        case ')'  => depth -= 1
        case _ =>
          // multi-word keywords ("ORDER BY") must match across ANY
          // whitespace run, incl. newlines — a single-space regionMatch
          // silently missed "ORDER\nBY" (review-found: DISTINCT ON then
          // window-ordered by the keys instead of the user's ORDER BY)
          if (depth == 0) {
            val end = matchKeywordAt(s, i, kw)
            if (end >= 0 && (i == 0 || !isWordChar(s.charAt(i - 1))) &&
                (end >= n || !isWordChar(s.charAt(end)))) {
              return (s.take(i).trim,
                Some(s.drop(end).trim).filter(_.nonEmpty))
            }
          }
      }
      i += 1
    }
    (s.trim, None)
  }

  /** split at the first top-level `WHEN` that opens a MERGE clause
    * (`WHEN MATCHED` / `WHEN NOT MATCHED`); the tail keeps the text
    * AFTER the WHEN word so the clause regexes see `MATCHED …`
    */
  private[graft] def splitMergeWhen(s: String): (String, Option[String]) = {
    val lit = literalMask(s)
    var i = 0
    var depth = 0
    while (i < s.length) {
      if (!lit(i)) s.charAt(i) match {
        case '('  => depth += 1
        case ')'  => depth -= 1
        case _ =>
          if (depth == 0 && (i == 0 || !isWordChar(s.charAt(i - 1)))) {
            val e = Seq("WHEN MATCHED", "WHEN NOT MATCHED")
              .map(matchKeywordAt(s, i, _)).find(_ >= 0).getOrElse(-1)
            if (e >= 0 && (e >= s.length || !isWordChar(s.charAt(e)))) {
              val afterWhen = matchKeywordAt(s, i, "WHEN")
              return (s.take(i).trim, Some(s.drop(afterWhen).trim))
            }
          }
      }
      i += 1
    }
    (s.trim, None)
  }

  /** end index if the (possibly multi-word) keyword matches at `i` with
    * arbitrary whitespace between words; -1 otherwise
    */
  private def matchKeywordAt(s: String, i: Int, kw: String): Int = {
    val words = kw.split("\\s+")
    var pos = i
    var w = 0
    while (w < words.length) {
      if (w > 0) {
        val start = pos
        while (pos < s.length && s.charAt(pos).isWhitespace) pos += 1
        if (pos == start) return -1
      }
      val word = words(w)
      if (!s.regionMatches(true, pos, word, 0, word.length)) return -1
      pos += word.length
      w += 1
    }
    pos
  }

  /** DuckDB struct/map literals — `{'k': v, …}` -> `named_struct('k', v,
    * …)`, `MAP {k1: v1, …}` -> `map(k1, v1, …)` — recursive (nested
    * literals), quote-aware, `::` casts inside values left alone. Braces
    * appear nowhere else in either dialect's SQL, so a top-level `{` IS a
    * literal; an unparseable one fails loudly rather than guessing.
    */
  private[graft] def rewriteBraces(s: String): String = {
    val lit = literalMask(s)
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '{' && !lit(i)) {
        val close = matchingClose(s, i, '{', '}', lit)
        require(close >= 0, s"unbalanced braces in: $s")
        val inner = rewriteBraces(s.substring(i + 1, close))
        val kvs = splitTopCommas(inner).map(_.trim).filter(_.nonEmpty).map { e =>
          val at = topLevelColon(e)
          require(at >= 0, s"cannot parse struct/map literal entry: $e")
          (e.take(at).trim, e.drop(at + 1).trim)
        }
        // `MAP {…}` (keyword immediately before) selects the map literal
        var end = sb.length
        while (end > 0 && sb.charAt(end - 1).isWhitespace) end -= 1
        val isMap = end >= 3 &&
          sb.substring(end - 3, end).equalsIgnoreCase("MAP") &&
          (end == 3 || !isWordChar(sb.charAt(end - 4)))
        if (isMap) {
          sb.setLength(end - 3) // strip the MAP keyword
          sb.append(kvs.map { case (k, v) => s"$k, $v" }.mkString("map(", ", ", ")"))
        } else {
          sb.append(kvs.map { case (k, v) =>
            val key = if (k.startsWith("'")) k else s"'${k.stripPrefix("\"").stripSuffix("\"")}'"
            s"$key, $v"
          }.mkString("named_struct(", ", ", ")"))
        }
        i = close + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** first single `:` at depth 0 outside quotes (skipping `::` casts) */
  private[graft] def topLevelColon(s: String): Int = {
    val lit = literalMask(s)
    var i = 0
    var depth = 0
    while (i < s.length) {
      if (!lit(i)) s.charAt(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ':' if depth == 0 =>
          if (i + 1 < s.length && s.charAt(i + 1) == ':') i += 1
          else return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** index of the ')' matching the '(' at `open`, outside quotes */
  private[graft] def matchingParen(s: String, open: Int): Int =
    matchingParen(s, open, literalMask(s))

  /** [[matchingParen]] with the caller's mask of `s` */
  private def matchingParen(s: String, open: Int, lit: Array[Boolean]): Int = {
    val close = matchingClose(s, open, '(', ')', lit)
    if (close < 0) throw new IllegalArgumentException(s"unbalanced parens in: $s")
    close
  }

  /** split "id INTEGER, val VARCHAR, d DECIMAL(10,2)" at top-level commas */
  private[lake] def splitColumns(colDef: String): Seq[(String, String)] =
    splitColumnsPk(colDef)._1

  /** column defs + declared PRIMARY KEY columns. Accepts the column-level
    * `id INTEGER PRIMARY KEY` suffix and the table-level
    * `PRIMARY KEY (a, b)` entry; the constraint itself is metadata (the
    * recorded key feeds `INSERT … ON CONFLICT` / `INSERT OR REPLACE`
    * target resolution — uniqueness is NOT enforced on insert, matching
    * the lake's append-only write path).
    */
  private[lake] def splitColumnsPk(colDef: String): (Seq[(String, String)], Seq[String]) = {
    val (defs, pk, _) = splitColumnDefs(colDef)
    (defs.map(d => (d.name, d.ty)), pk)
  }

  /** full column-definition parser: `name TYPE [constraints…]` entries
    * plus the table-level `PRIMARY KEY (…)` / `CHECK (…)` entries. The
    * TYPE boundary comes from the DDL type parser itself
    * ([[CatalogSchema.parseLakeTypePrefix]]) so multi-word and nested
    * spellings (`TIMESTAMP WITH TIME ZONE`, `STRUCT(a INT)[]`) never
    * bleed into the constraint tail. Recognized column constraints:
    * NOT NULL / NULL, PRIMARY KEY (implies NOT NULL, like DuckDB),
    * DEFAULT <expr>, CHECK (<expr>); UNIQUE / REFERENCES / COLLATE
    * refuse loudly — this engine cannot enforce them, and silently
    * dropping an enforced constraint is the worst failure mode.
    */
  private[graft] def splitColumnDefs(colDef: String)
      : (Seq[ColDef], Seq[String], Seq[String]) = {
    val parts = mutable.ArrayBuffer[String]()
    var depth = 0
    val cur = new StringBuilder
    colDef.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) parts += cur.toString
    val pk = mutable.ArrayBuffer[String]()
    val tableChecks = mutable.ArrayBuffer[String]()
    val PkTableRe = """(?is)^PRIMARY\s+KEY\s*\((.*)\)\s*$""".r
    val CheckTableRe = """(?is)^(?:CONSTRAINT\s+\w+\s+)?CHECK\s*\((.*)\)\s*$""".r
    val RefuseTableRe = """(?is)^(?:CONSTRAINT\s+\w+\s+)?(UNIQUE|FOREIGN\s+KEY)\b.*$""".r
    val defs = parts.toSeq.map(_.trim).filter(_.nonEmpty).flatMap {
      case PkTableRe(ks) =>
        pk ++= ks.split(',').toSeq
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
        None
      case CheckTableRe(e) => tableChecks += e.trim; None
      case RefuseTableRe(kind) => throw new IllegalArgumentException(
        s"table constraint ${kind.toUpperCase(java.util.Locale.ROOT)} is not " +
        "supported: this engine cannot enforce it, and accepting-then-" +
        "ignoring an enforced constraint silently weakens semantics")
      case p =>
        // a quoted column name may CONTAIN whitespace ("my col" INTEGER)
        // — the whitespace split only applies to bare names (r14)
        val (name, rest) =
          if (p.startsWith("\"")) {
            val close = p.indexOf('"', 1)
            require(close > 0, s"unterminated quoted column name: '$p'")
            (p.substring(1, close), p.substring(close + 1).trim)
          } else {
            val sp = p.split("\\s+", 2)
            require(sp.length == 2, s"cannot parse column definition: '$p'")
            (sp(0), sp(1).trim)
          }
        require(rest.nonEmpty, s"cannot parse column definition: '$p'")
        val (_, tyEnd) = CatalogSchema.parseLakeTypePrefix(rest)
        val ty = rest.substring(0, tyEnd).trim
        var tail = rest.substring(tyEnd).trim
        var notNull = false
        var default: Option[String] = None
        var check: Option[String] = None
        while (tail.nonEmpty) {
          val up = tail.toUpperCase(java.util.Locale.ROOT)
          def drop(n: Int): Unit = tail = tail.substring(n).trim
          if (up.startsWith("NOT NULL") || up.matches("(?s)^NOT\\s+NULL\\b.*")) {
            notNull = true; tail = tail.replaceFirst("(?is)^NOT\\s+NULL", "").trim
          } else if (up.startsWith("NULL")) { drop(4) }
          else if (up.matches("(?s)^PRIMARY\\s+KEY\\b.*")) {
            pk += name; notNull = true
            tail = tail.replaceFirst("(?is)^PRIMARY\\s+KEY", "").trim
          } else if (up.startsWith("CHECK")) {
            val open = tail.indexOf('(')
            require(open > 0, s"CHECK needs a parenthesized expression: $p")
            val close = matchingParen(tail, open)
            check = Some(tail.substring(open + 1, close).trim)
            tail = tail.substring(close + 1).trim
          } else if (up.startsWith("DEFAULT")) {
            var r = tail.substring(7).trim
            require(r.nonEmpty, s"DEFAULT needs an expression: $p")
            // the default expression: a parenthesized group, or tokens up
            // to the next top-level constraint keyword
            val e =
              if (r.startsWith("(")) { val c = matchingParen(r, 0); r.substring(0, c + 1) }
              else {
                // stop at the next constraint keyword OUTSIDE string
                // literals (a DEFAULT 'not null here' literal must not
                // truncate the expression) and OUTSIDE parens/brackets
                // (`DEFAULT coalesce(NULL, 7)` must keep its whole call),
                // and a LEADING lone NULL is itself a valid default
                // expression (`a INT DEFAULT NULL`)
                val lm = literalMask(r)
                val depth = new Array[Int](r.length)
                var d = 0
                var di = 0
                while (di < r.length) {
                  val c = r.charAt(di)
                  if (!lm(di) && (c == '(' || c == '[')) d += 1
                  depth(di) = d
                  if (!lm(di) && (c == ')' || c == ']')) d -= 1
                  di += 1
                }
                val stopRe = """(?is)\b(NOT\s+NULL|NULL|PRIMARY\s+KEY|UNIQUE|CHECK|REFERENCES|COLLATE)\b""".r
                val stop = stopRe.findAllMatchIn(r)
                  .filter(m => !(m.start == 0 && m.group(1).equalsIgnoreCase("NULL")))
                  .map(_.start)
                  .find(i => !lm(i) && depth(i) == 0).getOrElse(r.length)
                r.substring(0, stop).trim
              }
            require(e.nonEmpty, s"DEFAULT needs an expression: $p")
            default = Some(e)
            tail = r.substring(e.length).trim
          } else if (up.startsWith("UNIQUE") || up.startsWith("REFERENCES") ||
                     up.startsWith("COLLATE")) {
            val kw = up.takeWhile(!_.isWhitespace)
            throw new IllegalArgumentException(
              s"column constraint $kw is not supported: this engine cannot " +
              "enforce it, and accepting-then-ignoring an enforced " +
              "constraint silently weakens semantics")
          } else throw new IllegalArgumentException(
            s"cannot parse column constraint '$tail' in: '$p'")
        }
        Some(ColDef(name, ty, notNull, default, check))
    }
    (defs, pk.toSeq, tableChecks.toSeq)
  }

  /** the optional explicit column list of an INSERT body:
    * `(a, b) VALUES/SELECT …` → (Some(a, b), rest)
    */
  private def parseInsertBody(rest0: String): (Option[Seq[String]], String) = {
    val r0 = rest0.trim
    if (r0.startsWith("(")) {
      val close = matchingParen(r0, 0)
      val after = r0.drop(close + 1).trim
      val up = after.toUpperCase
      // "BY" = `(cols) BY NAME …`, recognized so the contradiction of a
      // column list WITH by-name mapping can be refused loudly downstream
      if (up.startsWith("VALUES") || up.startsWith("SELECT") || up.startsWith("(") ||
          up.startsWith("WITH") || up.startsWith("BY")) {
        val names = r0.substring(1, close).split(',').toSeq
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
        (Some(names), after)
      } else (None, r0) // "(VALUES …)" style body, not a column list
    } else (None, r0)
  }

  /** split an INSERT body at the first top-level `ON CONFLICT` (quote /
    * paren aware: the phrase inside a VALUES string literal must not
    * split; a SELECT body's `JOIN … ON cond` is skipped past). Returns
    * (body, tail-after-CONFLICT).
    */
  private[lake] def splitOnConflict(s: String): Option[(String, String)] = {
    val (pre, tailOpt) = splitTopLevelKeyword(s, "ON")
    tailOpt.flatMap { tail =>
      val m = """(?is)^CONFLICT\b(.*)$""".r.findFirstMatchIn(tail)
      m match {
        case Some(mm) => Some((pre, mm.group(1).trim))
        case None =>
          // a JOIN's ON — keep scanning the tail, re-joining what we ate
          splitOnConflict(tail).map { case (b, t) => (s"$pre ON $b", t) }
      }
    }
  }

  /** parse `[(k1, k2)] DO NOTHING | DO UPDATE SET a = …` after CONFLICT */
  private def parseConflictTail(t0: String): (Seq[String], ConflictAction) = {
    var t = t0.trim
    val keys =
      if (t.startsWith("(")) {
        val close = matchingParen(t, 0)
        val ks = t.substring(1, close).split(',').toSeq
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
        t = t.drop(close + 1).trim
        ks
      } else Nil
    val NothingRe = """(?is)^DO\s+NOTHING\s*$""".r
    val UpdateRe2 = """(?is)^DO\s+UPDATE\s+SET\s+(.*)$""".r
    t match {
      case NothingRe() => (keys, ConflictNothing)
      case UpdateRe2(sets) =>
        val (setsPart, where) = splitTopLevelKeyword(sets, "WHERE")
        require(where.isEmpty,
          "ON CONFLICT DO UPDATE ... WHERE is not supported")
        (keys, ConflictUpdate(splitAssignments(setsPart)))
      case other =>
        throw new IllegalArgumentException(s"cannot parse ON CONFLICT action: $other")
    }
  }

  /** split an expression list at top-level commas (quotes/parens
    * honored); the parts come back trimmed, empty ones dropped
    */
  private[graft] def splitTopCommas(s: String): Seq[String] = {
    val lit = literalMask(s)
    val parts = mutable.ArrayBuffer[String]()
    var depth = 0
    var from = 0
    var i = 0
    while (i < s.length) {
      if (!lit(i)) s.charAt(i) match {
        // DuckDB list literals/subscripts: a comma inside [1, 2] is not an
        // argument separator (r11 — map(['k1','k2'], [1,2]) split 4-ways)
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(from, i); from = i + 1
        case _ =>
      }
      i += 1
    }
    parts += s.substring(from)
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** true when call-argument text ends with a TOP-LEVEL trailing comma —
    * DuckDB parser-errors on `f(a,)`, so such a call must reach Spark
    * un-rewritten and fail there just as loudly (r15; splitTopCommas
    * silently swallows the empty trailing argument otherwise). Nested
    * trailing commas (`f(g(x,))`) are g's problem on its own pass. */
  private def trailingTopComma(inner: String): Boolean = {
    val lit = literalMask(inner)
    var depth = 0
    var lastTopComma = false
    var i = 0
    while (i < inner.length) {
      val c = inner.charAt(i)
      if (lit(i)) lastTopComma = false
      else if (c == '(' || c == '[' || c == '{') { depth += 1; lastTopComma = false }
      else if (c == ')' || c == ']' || c == '}') { depth -= 1; lastTopComma = false }
      else if (c == ',' && depth == 0) lastTopComma = true
      else if (!c.isWhitespace) lastTopComma = false
      i += 1
    }
    lastTopComma
  }

  /** split "a = a + 1, val = 'x'" at top-level commas into (col, expr) */
  private[lake] def splitAssignments(s: String): Seq[(String, String)] =
    splitTopCommas(s).map { p =>
      val eq = p.indexOf('=')
      require(eq > 0, s"cannot parse SET assignment: '$p'")
      (p.take(eq).trim.stripPrefix("\"").stripSuffix("\""), p.drop(eq + 1).trim)
    }

  /** the FROM/USING source of a join DML: "name [[AS] a]" | "(query) [AS] a" */
  private def parseDmlSource(src: String): (String, String) =
    if (src.startsWith("(")) {
      val close = matchingParen(src, 0)
      val a = src.drop(close + 1).trim.split("\\s+").filterNot(_.equalsIgnoreCase("AS"))
      require(a.nonEmpty && a.head.nonEmpty, "join-DML subquery source needs an alias")
      (src.substring(1, close), a.head)
    } else {
      val toks = src.split("\\s+").filterNot(_.equalsIgnoreCase("AS"))
      val name = qualName(toks.head)
      (s"SELECT * FROM $name", if (toks.length > 1) toks(1) else bareName(toks.head))
    }

  /** parse the `USING …` tail of a MERGE (source, ON, WHEN clauses) */
  private def parseMerge(table: String, alias: String, rest0: String): Merge = {
    val (srcPart, afterOn0) = splitTopLevelKeyword(rest0, "ON")
    val afterOn = afterOn0.getOrElse(
      throw new IllegalArgumentException("MERGE requires an ON condition"))
    // source: "(query) [AS] a" | "name [[AS] a]"
    val (sourceSql, srcAlias) =
      if (srcPart.startsWith("(")) {
        val close = matchingParen(srcPart, 0)
        val a = srcPart.drop(close + 1).trim.split("\\s+").filterNot(_.equalsIgnoreCase("AS"))
        require(a.nonEmpty && a.head.nonEmpty, "MERGE subquery source needs an alias")
        (srcPart.substring(1, close), a.head)
      } else {
        val toks = srcPart.split("\\s+").filterNot(_.equalsIgnoreCase("AS"))
        val name = qualName(toks.head)
        (s"SELECT * FROM $name", if (toks.length > 1) toks(1) else name)
      }
    // split the WHEN clauses (quote/paren-aware). ONLY a WHEN followed by
    // MATCHED / NOT MATCHED is a merge clause boundary — a bare "WHEN"
    // split would break on a CASE WHEN inside the ON condition or an
    // UPDATE SET expression (review-found: valid SQL threw)
    val (onCond, whenTail) = splitMergeWhen(afterOn)
    var matchedSets: Option[Seq[(String, String)]] = None
    var matchedDelete = false
    var notMatched: Option[(Option[Seq[String]], String)] = None
    var tail: Option[String] = whenTail
    val UpdRe = """(?is)^\s*MATCHED\s+THEN\s+UPDATE\s+SET\s+(.*)$""".r
    val DelRe = """(?is)^\s*MATCHED\s+THEN\s+DELETE\s*$""".r
    val InsRe = """(?is)^\s*NOT\s+MATCHED\s+THEN\s+INSERT\s*(.*)$""".r
    while (tail.isDefined) {
      val (clause, next) = splitMergeWhen(tail.get)
      clause match {
        case UpdRe(sets)  => matchedSets = Some(splitAssignments(sets))
        case DelRe()      => matchedDelete = true
        case InsRe(body0) =>
          val body = body0.trim
          val (cols, valsPart) =
            if (body.startsWith("(")) {
              val c = matchingParen(body, 0)
              (Some(body.substring(1, c).split(',').toSeq
                .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)),
                body.drop(c + 1).trim)
            } else (None, body)
          require(valsPart.toUpperCase.startsWith("VALUES"),
            s"MERGE INSERT needs VALUES: $valsPart")
          val vp = valsPart.drop("VALUES".length).trim
          val close = matchingParen(vp, 0)
          notMatched = Some((cols, vp.substring(1, close)))
        case other =>
          throw new IllegalArgumentException(s"cannot parse MERGE WHEN clause: $other")
      }
      tail = next
    }
    require(matchedSets.isDefined || matchedDelete || notMatched.isDefined,
      "MERGE needs at least one WHEN clause")
    require(!(matchedSets.isDefined && matchedDelete),
      "MERGE supports either UPDATE or DELETE on match, not both")
    Merge(table, alias, sourceSql, srcAlias, onCond, matchedSets, matchedDelete, notMatched)
  }

  /** COPY ... TO option blob: `FORMAT csv, DELIMITER '|', HEADER false,
    * PARTITION_BY (a, b), ...`. Options that shape the OUTPUT BYTES
    * (delimiter, header, quote, escape, null string, compression, date
    * formats) are parsed into Spark writer options and honored;
    * engine-tuning knobs with no output effect are tolerated silently;
    * anything unrecognized throws — before round 10 the blob was
    * pattern-scanned for FORMAT/PARTITION_BY only, so
    * `(DELIMITER '|', HEADER false)` silently wrote a comma-delimited
    * file WITH a header.
    * Returns (format, partitionBy, writerOptions, overwrite).
    */
  private[graft] def parseCopyOptions(blob: String)
      : (Option[String], Seq[String], Map[String, String], Boolean) = {
    if (blob.trim.isEmpty) return (None, Nil, Map.empty, false)
    // split on commas outside quotes, parens, AND brackets (NULLSTR
    // ['NA','none'] carries top-level-looking commas — r17)
    val parts = splitTopCommas(blob)
    val OptRe = """(?s)^\s*(\w+)\s*(.*?)\s*$""".r
    def unq(v: String): String = {
      val t = v.trim
      if (t.length >= 2 && t.head == '\'' && t.last == '\'')
        t.drop(1).dropRight(1).replace("''", "'")
      else t
    }
    def boolOf(v: String): Boolean = {
      val t = unq(v).toLowerCase
      t.isEmpty || t == "true" || t == "1" || t == "on" // bare flag = true
    }
    var fmt: Option[String] = None
    var pby: Seq[String] = Nil
    var ow = false
    val wopts = scala.collection.mutable.Map[String, String]()
    parts.foreach { part =>
      val OptRe(key0, value) = part
      key0.toUpperCase match {
        case "FORMAT" => fmt = Some(unq(value).toLowerCase)
        case "PARTITION_BY" =>
          val inner = value.trim
          val body = if (inner.startsWith("(")) inner.drop(1).dropRight(1) else inner
          pby = body.split(',').toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty)
        case "DELIMITER" | "DELIM" | "SEP" => wopts("sep") = unq(value)
        case "HEADER" => wopts("header") = boolOf(value).toString
        case "QUOTE" => wopts("quote") = unq(value)
        case "ESCAPE" => wopts("escape") = unq(value)
        // a NULLSTR list (`['NA','none']`) passes through RAW — the
        // CSV read path splits it (r17; the writer renders NULL as the
        // FIRST entry, DuckDB's rule)
        case "NULLSTR" | "NULL" =>
          val v = value.trim
          wopts("nullValue") = if (v.startsWith("[")) v else unq(v)
        // FORCE_NOT_NULL (c, d): nullstr matches in the named columns
        // read back as '' instead of NULL (measured r17, COPY FROM only)
        case "FORCE_NOT_NULL" =>
          val inner = value.trim
          val body = if (inner.startsWith("(")) inner.drop(1).dropRight(1) else inner
          wopts("__graft_force_not_null") = body
        case "COMPRESSION" | "CODEC" =>
          val c = unq(value).toLowerCase
          wopts("compression") = if (c == "uncompressed") "none" else c
        case "DATEFORMAT" => wopts("dateFormat") = unq(value)
        case "TIMESTAMPFORMAT" => wopts("timestampFormat") = unq(value)
        case "OVERWRITE" | "OVERWRITE_OR_IGNORE" => ow = boolOf(value)
        // engine-tuning knobs: no effect on output bytes, tolerated
        case "ROW_GROUP_SIZE" | "ROW_GROUP_SIZE_BYTES" | "ROW_GROUPS_PER_FILE"
           | "USE_TMP_FILE" => ()
        case other => throw new IllegalArgumentException(
          s"COPY option not supported: $other (would silently change the " +
          "output if ignored)")
      }
    }
    (fmt, pby, wopts.toMap, ow)
  }

  /** split a trailing top-level `RETURNING <exprs>` off a DML statement
    * (outside literals, paren depth 0, last occurrence — matching how
    * DuckDB's parser attaches the clause)
    */
  private def splitReturning(stmt: String): Option[(String, String)] = {
    val head = stmt.trim.takeWhile(!_.isWhitespace).toUpperCase(java.util.Locale.ROOT)
    if (head != "INSERT" && head != "UPDATE" && head != "DELETE") return None
    val m = literalMask(stmt)
    var depth = 0
    var at = -1
    var i = 0
    while (i < stmt.length) {
      val c = stmt.charAt(i)
      if (!m(i)) {
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else if (depth == 0 && (c == 'r' || c == 'R') &&
            stmt.regionMatches(true, i, "RETURNING", 0, 9) &&
            (i == 0 || !identChar(stmt.charAt(i - 1))) &&
            (i + 9 >= stmt.length || !identChar(stmt.charAt(i + 9)))) at = i
      }
      i += 1
    }
    if (at < 0) None
    else {
      val exprs = stmt.substring(at + 9).trim
      require(exprs.nonEmpty, "RETURNING needs an expression list")
      Some((stmt.substring(0, at).trim, exprs))
    }
  }

  def classify(stmt: String): Stmt = splitReturning(stmt) match {
    case Some((head, exprs)) =>
      classify(head) match {
        case inner @ (_: InsertValues | _: InsertSelect | _: Delete | _: Update) =>
          Returning(inner, exprs)
        case _ => throw new IllegalArgumentException(
          "RETURNING is supported on INSERT / UPDATE / DELETE only")
      }
    case None => classifyInner(stmt)
  }

  private def classifyInner(stmt: String): Stmt = stmt match {
    case BeginRe() => Begin
    case CommitRe() => Commit
    case RollbackRe() => Rollback
    case UniqueIndexRe() => throw new IllegalArgumentException(
      "CREATE UNIQUE INDEX is not supported: DuckDB enforces the " +
      "uniqueness constraint and this engine does not — accepting it " +
      "would silently allow duplicate inserts the reference rejects. " +
      "Plain CREATE INDEX (no constraint semantics) is accepted.")
    case IndexRe() => NoOp
    case VacuumRe() => Vacuum
    case SetVariableRe(n, e) => SetVariable(n, e)
    case ResetVariableRe(n) => ResetVariable(n)
    case SetRe(k, v) => SetOption(k, v)
    case PragmaShowTablesRe() => ShowTables
    case PragmaTableInfoRe(name) => TableInfo(qualName(name))
    case PragmaDatabaseSizeRe() => DatabaseSize
    case PragmaVersionRe() => VersionInfo
    case SessionNoOpRe() => NoOp
    case MergeRe(name, a1, a2, rest) =>
      val table = qualName(name)
      val alias = Option(a1).orElse(Option(a2)).getOrElse(bareName(name))
      parseMerge(table, alias, rest)
    case CreateViewRe(orRepl, name, select) =>
      CreateView(bareName(name), select.trim, orRepl != null)
    case ExportDbRe(path, fmt) =>
      ExportDb(path, Option(fmt).map(_.toLowerCase))
    case ImportDbRe(path) => ImportDb(path)
    case CopyFromRe(table, path, optBlob) =>
      val (fmt, pby, wopts, ow) =
        parseCopyOptions(Option(optBlob).getOrElse(""))
      require(pby.isEmpty, "COPY ... FROM does not take PARTITION_BY")
      require(!ow, "COPY ... FROM does not take OVERWRITE options")
      CopyFrom(qualName(table), path, fmt, wopts)
    case CopyRe(source, path, optBlob) =>
      val (fmt, pby, wopts, ow) =
        parseCopyOptions(Option(optBlob).getOrElse(""))
      CopyTo(source.trim, path, fmt, pby, wopts, ow)
    case CreateRe(orRepl, tmp, ifne, name, rest) =>
      val r = rest.trim
      val temp = tmp != null
      // a TEMP table is session-scoped (DuckDB's temp schema): bare name
      // only, never schema-qualified into the lake
      if (temp) require(!name.contains("."),
        s"CREATE TEMP TABLE takes an unqualified name: $name")
      val nm = if (temp) bareName(name) else qualName(name)
      if (r.toUpperCase.startsWith("AS") )
        CreateTableAs(nm, r.drop(2).trim, ifne != null, orRepl != null, temp)
      else {
        require(r.startsWith("(") && r.endsWith(")"),
          s"cannot parse CREATE TABLE body: $r")
        val (defs, pk, tableChecks) = splitColumnDefs(r.drop(1).dropRight(1))
        require(!temp || (pk.isEmpty && tableChecks.isEmpty &&
            defs.forall(d => !d.notNull && d.default.isEmpty && d.check.isEmpty)),
          "CREATE TEMP TABLE does not take constraints")
        CreateTable(nm, defs.map(d => (d.name, d.ty)), ifne != null,
          orRepl != null, pk, temp, defs, tableChecks)
      }
    case InsertOrRe(mode, name, rest0) =>
      // `INSERT OR REPLACE|IGNORE INTO` — conflict target is the table's
      // declared PRIMARY KEY, resolved at execution
      val (cols, r) = parseInsertBody(rest0)
      InsertOnConflict(qualName(name), cols, r, Nil,
        if (mode.equalsIgnoreCase("REPLACE")) ConflictReplace else ConflictNothing)
    case InsertRe(name, rest0) =>
      val (cols, r0) = parseInsertBody(rest0)
      splitOnConflict(r0) match {
        case Some((body, tail)) =>
          val (keys, action) = parseConflictTail(tail)
          InsertOnConflict(qualName(name), cols, body, keys, action)
        case None =>
          val bn = """(?is)^BY\s+NAME\b\s*(.*)$""".r.findFirstMatchIn(r0)
          if (bn.isDefined) {
            require(cols.isEmpty,
              "INSERT ... BY NAME takes no column list (names come from the source)")
            InsertSelect(qualName(name), None, bn.get.group(1).trim, byName = true)
          }
          else if (r0.trim.toUpperCase(java.util.Locale.ROOT)
              .matches("(?s)DEFAULT\\s+VALUES\\s*"))
            InsertValues(qualName(name), cols, "DEFAULT VALUES")
          else if (r0.toUpperCase.startsWith("VALUES")) InsertValues(qualName(name), cols, r0)
          else InsertSelect(qualName(name), cols, r0)
      }
    case DeleteRe(name, rest) =>
      // `DELETE FROM t USING s WHERE joincond` (DuckDB join-delete) —
      // desugars onto MERGE (WHEN MATCHED DELETE); multi-match deletes
      // are idempotent so no cardinality concern
      splitTopLevelKeyword(rest, "USING") match {
        case (pre0, Some(ut)) =>
          require(pre0.isEmpty, s"cannot parse DELETE tail: $pre0")
          val (srcPart, whereOpt) = splitTopLevelKeyword(ut, "WHERE")
          val on = whereOpt.getOrElse(throw new IllegalArgumentException(
            "DELETE ... USING needs a WHERE join condition"))
          val (sourceSql, srcAlias) = parseDmlSource(srcPart)
          Merge(qualName(name), bareName(name), sourceSql, srcAlias, on,
            None, matchedDelete = true, None)
        case _ =>
          val (pre, where) = splitTopLevelKeyword(rest, "WHERE")
          require(pre.isEmpty, s"cannot parse DELETE tail: $pre")
          Delete(qualName(name), where)
      }
    case UpdateRe(name, rest) =>
      // `UPDATE t SET … FROM s WHERE joincond` (DuckDB join-update) —
      // desugars onto MERGE (WHEN MATCHED UPDATE); a target row matched
      // by several source rows errors via the cardinality guard, where
      // DuckDB/Postgres silently pick one — stricter, never wrong.
      // EXTRACT(… FROM …)/TRIM(… FROM …) in a SET expression sit inside
      // parens, so the top-level FROM split cannot misfire on them.
      splitTopLevelKeyword(rest, "FROM") match {
        case (setsPart0, Some(ft)) =>
          val (srcPart, whereOpt) = splitTopLevelKeyword(ft, "WHERE")
          val on = whereOpt.getOrElse(throw new IllegalArgumentException(
            "UPDATE ... FROM needs a WHERE join condition"))
          val (sourceSql, srcAlias) = parseDmlSource(srcPart)
          Merge(qualName(name), bareName(name), sourceSql, srcAlias, on,
            Some(splitAssignments(setsPart0)), matchedDelete = false, None)
        case _ =>
          val (setsPart, where) = splitTopLevelKeyword(rest, "WHERE")
          Update(qualName(name), splitAssignments(setsPart), where)
      }
    case DropRe(ife, name) => DropTable(qualName(name), ife != null)
    case AlterSetDefaultRe(name, colName, e) =>
      AlterTable(qualName(name), SetColumnDefault(
        colName.stripPrefix("\"").stripSuffix("\""), Some(e.trim)))
    case AlterDropDefaultRe(name, colName) =>
      AlterTable(qualName(name), SetColumnDefault(
        colName.stripPrefix("\"").stripSuffix("\""), None))
    case AlterSetNotNullRe(name, colName, mode) =>
      AlterTable(qualName(name), SetColumnNotNull(
        colName.stripPrefix("\"").stripSuffix("\""),
        mode.equalsIgnoreCase("SET")))
    case AlterColTypeRe(name, colName, sqlType) =>
      AlterTable(qualName(name), AlterColumnType(
        colName.stripPrefix("\"").stripSuffix("\""), sqlType.trim))
    case AlterRenameColRe(name, oldC, newC) =>
      AlterTable(qualName(name), RenameColumn(
        oldC.stripPrefix("\"").stripSuffix("\""),
        newC.stripPrefix("\"").stripSuffix("\"")))
    case AlterPartitionRe(name, cols) =>
      AlterTable(qualName(name), SetPartitionedBy(
        cols.split(',').toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)))
    case AlterRenameRe(name, newName) =>
      AlterTable(qualName(name), RenameTo(bareName(newName)))
    case AlterAddRe(name, colName, colType) =>
      AlterTable(qualName(name),
        AddColumn(colName.stripPrefix("\"").stripSuffix("\""), colType.trim))
    case AlterDropRe(name, colName) =>
      AlterTable(qualName(name),
        DropColumn(colName.stripPrefix("\"").stripSuffix("\"")))
    case DropViewRe(ife, name) => DropView(bareName(name), ife != null)
    case TruncateRe(name) => Delete(qualName(name), None)
    case AttachRe(target, alias, opts) =>
      Attach(target, Option(alias).map(bareName),
        Option(opts).flatMap(o => DataPathRe.findFirstMatchIn(o).map(_.group(1))))
    case DetachRe(_) => Detach
    case CommentColumnRe(tbl, col, lit) =>
      CommentOn(qualName(tbl),
        Some(col.stripPrefix("\"").stripSuffix("\"")), unquoteLit(lit))
    case CommentTableRe(tbl, lit) =>
      CommentOn(qualName(tbl), None, unquoteLit(lit))
    case CreateSeqRe(orRepl, ifne, name, rest) =>
      val start = """(?i)START\s+(?:WITH\s+)?(-?\d+)""".r
        .findFirstMatchIn(rest).map(_.group(1).toLong).getOrElse(1L)
      val incr = """(?i)INCREMENT\s+(?:BY\s+)?(-?\d+)""".r
        .findFirstMatchIn(rest).map(_.group(1).toLong).getOrElse(1L)
      CreateSequence(bareName(name), start, incr, ifne != null, orRepl != null)
    case DropSeqRe(ife, name) => DropSequence(bareName(name), ife != null)
    case CreateSchemaRe(ifne, name) => CreateSchema(bareName(name), ifne != null)
    case DropSchemaRe(ife, name, casc) => DropSchema(bareName(name), ife != null, casc != null)
    case UseRe(name) => Use(qualName(name))
    case ShowTablesRe() => ShowTables
    case ShowDatabasesRe() => ShowDatabases
    case ShowSchemasRe() => ShowSchemas
    case ShowTableRe(name) => Describe(qualName(name))
    case ExplainAnalyzeRe(select) => ExplainAnalyze(select.trim)
    case ExplainRe(select) => Explain(select.trim)
    case DescribeSelectRe(sel) => DescribeQuery(sel.trim)
    case DescribeRe(name) => Describe(qualName(name))
    case SummarizeRe(name) => Summarize(qualName(name))
    case CreateMacroRe(orRepl, name, params, body) =>
      // a TABLE macro's body is a query; expansion parenthesizes, so a
      // call in FROM position becomes the standard derived-table form
      val b = body.trim
      val scalarOrQuery =
        if (b.length >= 6 && b.substring(0, 5).equalsIgnoreCase("TABLE") &&
            b.charAt(5).isWhitespace) b.drop(6).trim
        else b
      CreateMacro(bareName(name),
        splitTopCommas(params).map(_.trim).filter(_.nonEmpty), scalarOrQuery,
        orRepl != null)
    case DropMacroRe(ife, name) => DropMacro(bareName(name), ife != null)
    case PrepareRe(name, body) => Prepare(bareName(name), body.trim)
    case ExecuteRe(name, argBlob) =>
      Execute(bareName(name), Option(argBlob).map(b =>
        splitTopCommas(b).map(_.trim).filter(_.nonEmpty)).getOrElse(Nil))
    case DeallocateRe(ife, name) => Deallocate(bareName(name), ife != null)
    case PivotRe(name, rest) => parsePivot(qualName(name), rest)
    // `PIVOT (subquery) ON …` — DuckDB's derived-table form (r17
    // stmtshape follow-through): the balanced subquery rides through in
    // the table slot, the executor routes it via sqlSelect
    case s0 if PivotSubqRe.findPrefixMatchOf(s0).isDefined =>
      val m = PivotSubqRe.findPrefixMatchOf(s0).get
      val open = m.end - 1
      val close = matchingParen(s0, open)
      require(close > open, s"cannot parse PIVOT subquery: $s0")
      val rest = s0.substring(close + 1).trim
      val onRe = """(?is)^ON\s+(.+)$""".r
      rest match {
        case onRe(tail) =>
          parsePivot("(" + s0.substring(open + 1, close) + ")", tail)
        case _ => throw new IllegalArgumentException(
          s"expected ON after PIVOT (subquery): $rest")
      }
    // DuckDB `UNPIVOT t ON a, b INTO NAME k VALUE v` -> Spark's UNPIVOT
    // clause (both engines exclude NULL cells by default)
    case UnpivotRe(name, cols, nameC, valC) =>
      Select(s"SELECT * FROM ${qualName(name)} UNPIVOT ($valC FOR $nameC IN ($cols))")
    // short form on a SUBQUERY target; INTO clause optional with
    // DuckDB's default output names (name, value) — r14 gap probe
    case q0 if UnpivotSubqRe.findFirstMatchIn(q0).isDefined =>
      val m = UnpivotSubqRe.findFirstMatchIn(q0).get
      val open = m.end - 1
      val close = matchingParen(q0, open)
      val sub = q0.substring(open + 1, close).trim
      val rest = q0.substring(close + 1).trim
      val OnRe = """(?is)^ON\s+(.+?)(?:\s+INTO\s+NAME\s+([\w\"]+)\s+VALUE\s+([\w\"]+))?\s*$""".r
      rest match {
        case OnRe(cols, nameC, valC) =>
          val n = Option(nameC).getOrElse("name")
          val v = Option(valC).getOrElse("value")
          Select(s"SELECT * FROM ($sub) __unp UNPIVOT ($v FOR $n IN ($cols))")
        case _ => throw new IllegalArgumentException(
          s"cannot parse UNPIVOT (subquery) tail: $rest")
      }
    case UnpivotShortRe(name, cols) =>
      Select(s"SELECT * FROM ${qualName(name)} UNPIVOT (value FOR name IN ($cols))")
    case other => Select(other)
  }

  private def parsePivot(table: String, rest0: String): Pivot = {
    // rest = "<col> [USING agg…] [GROUP BY g, …] [ORDER BY …]" — keyword
    // splits are quote/paren-aware so an agg argument can contain
    // anything; a trailing ORDER BY applies to the pivot OUTPUT (r17)
    val (rest, orderPart) = splitTopLevelKeyword(rest0, "ORDER")
    val orderBy = orderPart.flatMap(t =>
      """(?is)^BY\b(.*)$""".r.findFirstMatchIn(t).map(_.group(1).trim))
    val (beforeGroup, groupPart) = splitTopLevelKeyword(rest, "GROUP")
    val groupBy = groupPart.map { g =>
      val t = g.trim
      require(t.toUpperCase.startsWith("BY"), s"expected GROUP BY in PIVOT: $g")
      splitTopCommas(t.drop(2)).map(_.trim).filter(_.nonEmpty)
    }
    val (onCol, usingPart) = splitTopLevelKeyword(beforeGroup, "USING")
    val aggs = usingPart.toSeq.flatMap(u => splitTopCommas(u).map { a =>
      val (ex, alias) = splitTopLevelKeyword(a.trim, "AS")
      (ex, alias.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
    })
    Pivot(table, onCol.trim.stripPrefix("\"").stripSuffix("\""), aggs,
      groupBy, orderBy)
  }

  /** Expand macro calls textually (outside string literals), innermost
    * calls first via re-scan; bounded depth guards mutual recursion.
    * Parameter substitution is word-boundary, quote-aware in the body.
    */
  def expandMacros(sql: String, macros: Map[String, (Seq[String], String)]): String = {
    if (macros.isEmpty) return sql
    var q = sql
    var expansions = 0
    var changed = true
    while (changed) {
      changed = false
      for ((name, (params, body)) <- macros) {
        var idx = findMacroCall(q, name)
        while (idx >= 0) {
          // total-expansion bound, not per-sweep: a self-recursive macro
          // (f(x) AS f(x)+1) regrows its own call site every expansion
          // and must fail loudly, never spin
          expansions += 1
          require(expansions <= 100,
            s"macro expansion exceeded 100 substitutions (recursive macro?): $name")
          val open = q.indexOf('(', idx + name.length)
          val close = matchingParen(q, open)
          val args = splitTopCommas(q.substring(open + 1, close)).map(_.trim)
          require(args.count(_.nonEmpty) == params.length ||
              (params.isEmpty && args.forall(_.isEmpty)),
            s"macro $name expects ${params.length} args, got ${args.length}")
          // SIMULTANEOUS binding via placeholder tokens: sequential
          // substitution would re-scan earlier-substituted ARGUMENT text
          // with later parameters (f(a,b) AS a+b called as f(b, 10)
          // must yield b+10, not 10+10 — DuckDB binds all at once)
          def tok(i: Int) = "\u0001" + i + "\u0001"
          val phased = params.zipWithIndex.foldLeft(body) { case (b, (p, i)) =>
            mapOutsideLiterals(b)(_.replaceAll(
              s"(?i)\\b${java.util.regex.Pattern.quote(p)}\\b",
              java.util.regex.Matcher.quoteReplacement(tok(i))))
          }
          val expanded = params.indices.foldLeft(phased) { case (b, i) =>
            b.replace(tok(i), s"(${args(i)})")
          }
          q = q.substring(0, idx) + "(" + expanded + ")" + q.substring(close + 1)
          changed = true
          idx = findMacroCall(q, name)
        }
      }
    }
    q
  }

  /** DuckDB `COLUMNS('re')` / `COLUMNS(*)` star expansion — supported
    * where it is used in practice: the OUTER select list of a
    * single-table query (`colsOf` resolves the FROM target's schema;
    * anything it cannot resolve fails loudly, never silently). A select
    * item that IS the COLUMNS call expands to the bare matching columns;
    * an item wrapping it (`min(COLUMNS('re'))`) expands per column with
    * the deterministic alias `<head>_<col>` (DuckDB's auto-names quote
    * the whole expression, which Spark identifiers cannot carry).
    */
  def expandColumns(sql: String, colsOf: String => Option[Seq[String]]): String = {
    if (findMacroCall(sql, "COLUMNS") < 0) return sql
    val SelRe = """(?is)^\s*SELECT\s+(DISTINCT\s+)?(.*)$""".r
    sql match {
      case SelRe(dist, rest) =>
        val (selList, fromPart) = splitTopLevelKeyword(rest, "FROM")
        require(fromPart.isDefined, s"COLUMNS(...) needs a FROM table: $sql")
        val table = fromPart.get.trim.takeWhile(c => !c.isWhitespace && c != ',' && c != ';')
        val names = colsOf(table.stripPrefix("\"").stripSuffix("\"")).getOrElse(
          throw new IllegalArgumentException(
            s"COLUMNS(...): cannot resolve the FROM table '$table' to a catalog schema"))
        val expanded = splitTopCommas(selList).map(_.trim).flatMap { it =>
          val at = findMacroCall(it, "COLUMNS")
          if (at < 0) Seq(it)
          else {
            val open = it.indexOf('(', at)
            val close = matchingParen(it, open)
            val arg = it.substring(open + 1, close).trim
            val LambdaLike =
              """(?is)^(\w+)\s*->\s*\1\s+(NOT\s+)?LIKE\s+'((?:[^']|'')*)'\s*$""".r
            val matched =
              if (arg == "*") names
              else arg match {
                // lambda form over the NAME: `c -> c [NOT] LIKE 'pat'`
                // (evaluated here at expansion time — names are known)
                case LambdaLike(_, not, pat) =>
                  val re = ("(?s)^" + java.util.regex.Pattern.quote(
                    pat.replace("''", "'"))
                    .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r
                  names.filter(n => re.matches(n) == (not == null))
                case _ =>
                  require(arg.startsWith("'") && arg.endsWith("'") && arg.length >= 2,
                    s"unsupported COLUMNS argument: $arg")
                  val re = arg.stripPrefix("'").stripSuffix("'").r
                  names.filter(n => re.findFirstIn(n).isDefined)
              }
            require(matched.nonEmpty, s"COLUMNS($arg) matched no columns")
            val bare = it.substring(0, at).trim.isEmpty && it.substring(close + 1).trim.isEmpty
            matched.map { c =>
              val rep = it.substring(0, at) + c + it.substring(close + 1)
              if (bare) rep
              else {
                val head = "[A-Za-z_][A-Za-z0-9_]*".r
                  .findFirstIn(it.substring(0, at)).getOrElse("expr")
                s"$rep AS ${head}_$c"
              }
            }
          }
        }
        s"SELECT ${Option(dist).getOrElse("")}${expanded.mkString(", ")} FROM ${fromPart.get}"
      case _ => throw new IllegalArgumentException(
        s"COLUMNS(...) is supported in the outer select list only: $sql")
    }
  }

  /** first index of `name(` outside string literals, word-bounded; -1 if none */
  private[graft] def findMacroCall(s: String, name: String): Int = {
    val lit = literalMask(s)
    var i = 0
    while (i < s.length) {
      if (!lit(i) && s.regionMatches(true, i, name, 0, name.length) &&
          (i == 0 || !isWordChar(s.charAt(i - 1)))) {
        var j = i + name.length
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (j < s.length && s.charAt(j) == '(') return i
        i = j - 1
      }
      i += 1
    }
    -1
  }

  // ----------------------------------------------------- DuckDB dialect
  // The reference's query contract is the verbatim DuckDB dialect
  // (ducklakexl.py:394 hands user text straight to DuckDB), so the
  // spellings a DuckDB user would paste must run through `sql()` even
  // where Spark SQL differs. Pure text -> text, applied to every SELECT
  // before it reaches spark.sql:
  //   * EXCLUDE (c, …)         -> * EXCEPT (c, …)
  //   * REPLACE (e AS c, …)    -> * EXCEPT (c, …), e AS c, …   (the
  //     replaced column moves to the end; engines agree on names and
  //     values — the positional difference is documented)
  //   SELECT DISTINCT ON (k) … ORDER BY o  -> row_number() window
  //     subquery (top-level queries; the window ORDER BY must use source
  //     columns, not select aliases)
  //   l ASOF [LEFT] JOIN r ON eq… AND l.ts >= r.ts -> correlated
  //     [LEFT] JOIN LATERAL (SELECT * FROM r WHERE … ORDER BY r.ts DESC
  //     LIMIT 1) — Spark decorrelates the LIMIT 1 subquery into a
  //     windowed join, the same plan the native as-of rewrite builds
  //   list_transform/list_filter/list_value/… -> Spark array functions

  /** DuckDB list functions with drop-in Spark twins (same args, same
    * semantics); list_sum/list_unique/len have no 1:1 twin and stay out
    */
  private val FnRenames: Seq[(String, String)] = Seq(
    // DuckDB cases with utf8proc's SIMPLE 1:1 fold; Spark's upper/lower
    // use the JVM FULL mapping (upper('ß')='SS', lower('İ')='i̇') —
    // silent value divergence on everyday German/Turkish text. Natives
    // in graft.functions.DuckCase (r15 Unicode barrage).
    "upper" -> "__graft_upper",
    "ucase" -> "__graft_upper",
    "lower" -> "__graft_lower",
    "lcase" -> "__graft_lower",
    "strip_accents" -> "__graft_noaccent",
    // DuckDB strlen() is the BYTE length — Spark twin octet_length
    // (r15 Unicode barrage find: unregistered name errored as a catalog
    // function lookup)
    "strlen" -> "octet_length",
    // r15 numedge barrage: DuckDB-exact numeric natives (NumericEdge).
    // `log`/`trunc` are ARITY-dispatched in rewriteDialect instead
    // (DuckDB log(x) is LOG10 — Spark's log is natural; 2-arg forms
    // keep their Spark twins).
    "fmod" -> "__graft_fmod",
    "sign" -> "__graft_sign",
    "factorial" -> "__graft_factorial",
    "sqrt" -> "__graft_sqrt",
    "ln" -> "__graft_ln",
    "log2" -> "__graft_log2",
    "log10" -> "__graft_log10",
    "list_transform" -> "transform",
    "list_filter"    -> "filter",
    "list_value"     -> "array",
    "list_pack"      -> "array",
    "list_contains"  -> "array_contains",
    // r16 listmath barrage natives (functions/ListShape): NULL-element
    // and order semantics measured on DuckDB 1.0 — arrays_overlap /
    // array_intersect diverge silently (NULL answers, left-order output)
    "list_has_any"   -> "__graft_list_has_any",
    "list_has_all"   -> "__graft_list_has_all",
    "list_intersect" -> "__graft_list_intersect",
    "list_select"    -> "__graft_list_select",
    "list_where"     -> "__graft_list_where",
    "list_resize"    -> "__graft_list_resize",
    "list_grade_up"  -> "__graft_list_grade_up",
    "flatten"        -> "__graft_flatten",
    "map_concat"     -> "__graft_map_concat",
    "list_dot_product"       -> "__graft_list_dot",
    "list_inner_product"     -> "__graft_list_dot",
    "list_cosine_similarity" -> "__graft_list_cos",
    "list_distance"          -> "__graft_list_dist",
    "editdist3"      -> "levenshtein",
    "mismatches"     -> "hamming",
    // list_distinct / list_prepend / list_sort family: explicit
    // rewrites in rewriteDialect (r12 list differential — measured
    // orders and argument swaps a bare rename cannot carry)
    "list_sort"      -> "array_sort", // asc NULLS LAST, like DuckDB
                                      // (sort_array puts NULLs first)
    "list_min"       -> "array_min",
    "list_max"       -> "array_max",
    "list_reverse"   -> "reverse",
    "list_concat"    -> "concat",
    "list_append"    -> "array_append",
    // array_to_string(list, sep) == Spark's array_join(array, delimiter)
    "array_to_string" -> "array_join",
    // DuckDB's list(x) aggregate is Spark's collect_list (insertion
    // order; `\blist\b` cannot match the list_* family above — `_` is a
    // word char, so the boundary fails)
    "list"           -> "collect_list",
    "starts_with"    -> "startswith",
    "ends_with"      -> "endswith",
    // r16 uuid-blob barrage: DuckDB's to_base64 is base64's alias
    "to_base64"      -> "base64",
    // boolean regexp_matches(s, p) — Spark's regexp_like (the multi-flag
    // DuckDB form has no 1:1 twin and stays out)
    "regexp_matches" -> "regexp_like",
    // epoch(ts) -> seconds BIGINT on both engines (epoch_ms is untouched:
    // `_` is a word char, the boundary fails)
    "epoch"          -> "unix_timestamp",
    // both are inclusive-bounds integer ranges in list position; the
    // table-function position (`FROM generate_series(...)`) differs and
    // fails loudly at the engine rather than silently changing shape
    "generate_series" -> "sequence",
    // DuckDB's argmax family: arg_max(val, key) == Spark max_by(val, key)
    // (both return the val of the max non-NULL key)
    "arg_max" -> "max_by",
    "arg_min" -> "min_by",
    "argmax"  -> "max_by",
    "argmin"  -> "min_by",
    // quantile_cont/quantile_disc/median route to the DECIMAL-aware
    // natives in rewriteScalarMisc (r12 aggregate differential) — the
    // old quantile_cont -> percentile rename lost DuckDB's
    // input-type-preserving DECIMAL semantics
    // select-position unnest == explode (one output row per element,
    // other select items repeated); the FROM-position table function is
    // rewritten separately BEFORE this rename
    "unnest" -> "explode",
    // DuckDB spelling aliases with exact Spark twins
    "datetrunc" -> "date_trunc",
    "datepart"  -> "date_part",
    // 1-based substring position, 0 when absent — exact twins
    "strpos" -> "instr",
    "prefix" -> "startswith",
    "suffix" -> "endswith",
    // r16: native list_zip — DuckDB pads to the LONGEST input, treats
    // NULL lists as empty, and renders unnamed tuples `(1, a)` (the
    // arrays_zip rename kept Spark's named-field render — silent)
    "list_zip" -> "__graft_list_zip",
    // list length: Spark's size (len/length stay out — DuckDB's work on
    // strings AND lists, Spark's length is string-only; a blind rename
    // would silently string-ify list lengths)
    "array_length" -> "size",
    // volatile row functions: DuckDB random() is uniform [0,1) like
    // Spark's rand(); gen_random_uuid() == uuid() (v4, rendered as the
    // canonical hex string here — the same STRING carrier the lake's
    // UUID column type uses)
    "random" -> "rand",
    "gen_random_uuid" -> "uuid")

  /** parse a literal INTERVAL expression — quoted (`INTERVAL '1 hour 30
    * minutes'`) or bare (`INTERVAL 1 DAY`) — into (months, micros).
    * DuckDB refuses month widths mixed with day/time parts, so callers
    * treat (m>0, us>0) as unmappable. Non-literal intervals -> None.
    * NOT the same contract as functions/IntervalText.parse (the lake
    * INTERVAL column carrier): this one is a time_bucket WIDTH parser —
    * integer-only values, days folded into micros (a width has no
    * calendar identity), unmappable means a LOUD refusal downstream —
    * while IntervalText keeps (months, days, micros) distinct and
    * cascades fractions the way DuckDB renders values.
    */
  private[lake] def parseIntervalLiteral(s0: String): Option[(Long, Long)] = {
    val s = s0.trim
    val body =
      """(?is)^INTERVAL\s+'([^']+)'$""".r.findFirstMatchIn(s).map(_.group(1))
        .orElse("""(?is)^INTERVAL\s+([0-9][0-9_ a-z]*)$""".r
          .findFirstMatchIn(s).map(_.group(1)))
    body.flatMap { b =>
      val parts = """(\d+)\s*([a-zA-Z]+)""".r.findAllMatchIn(b).toSeq
      // reject anything the pair-scan did not fully consume ('1 x 2')
      if (parts.isEmpty || b.replaceAll("\\s+", "").length !=
          parts.map(m => m.group(1).length + m.group(2).length).sum) None
      else {
        var months = 0L
        var micros = 0L
        var ok = true
        parts.foreach { m =>
          val n = m.group(1).toLong
          val u0 = m.group(2).toLowerCase(java.util.Locale.ROOT)
          // plural strip, but 'ms'/'us' are units of their own
          val u = if (u0.length > 2 && u0.endsWith("s")) u0.dropRight(1) else u0
          u match {
            case "microsecond" | "us" => micros += n
            case "millisecond" | "ms" => micros += n * 1000L
            case "second" | "sec"   => micros += n * 1000000L
            case "minute" | "min"   => micros += n * 60000000L
            case "hour"             => micros += n * 3600000000L
            case "day"              => micros += n * 86400000000L
            case "week"             => micros += n * 7L * 86400000000L
            case "month" | "mon"    => months += n
            case "quarter"          => months += n * 3L
            case "year"             => months += n * 12L
            case "decade"           => months += n * 120L
            case "century"          => months += n * 1200L
            case _                  => ok = false
          }
        }
        if (ok && (months == 0L || micros == 0L)) Some((months, micros)) else None
      }
    }
  }

  private def renameFns(seg: String): String =
    FnRenames.foldLeft(seg) { case (acc, (from, to)) =>
      acc.replaceAll(s"(?i)\\b$from\\s*\\(", s"$to(")
    }

  private val SimilarToRe =
    """(?i)\bSIMILAR\s+TO\s+'((?:[^']|'')*)'""".r

  private def rewriteSimilarTo(q0: String): String = {
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      SimilarToRe.findFirstMatchIn(q.substring(from)) match {
        case None => go = false
        case Some(m) =>
          val start = from + m.start
          if (lit(start)) from = start + 1
          else {
            val rep = s"RLIKE '^(?:${m.group(1)})$$'"
            q = q.substring(0, start) + rep + q.substring(from + m.end)
            from = start + rep.length
          }
      }
    }
    q
  }

  private val LikeLitRe = """(?i)\b(I?LIKE)\s+'((?:[^']|'')*)'""".r

  /** Spark's LIKE treats a backslash in the PATTERN VALUE as its
    * default escape char; DuckDB's LIKE has NO default escape — a
    * backslash is an ordinary byte (measured `'a\b' LIKE 'a\b'` = true,
    * `'ab' LIKE 'a\b'` = false). For quoted-literal patterns with no
    * explicit ESCAPE clause, double the (already parser-doubled)
    * backslashes once more so Spark's LIKE unescape lands back on the
    * literal byte. Patterns without backslashes pass through untouched,
    * keeping Spark's StartsWith/EndsWith/Contains pushdown. A COMPUTED
    * pattern containing backslashes cannot be seen textually and keeps
    * Spark's escape reading (documented divergence). RLIKE never
    * matches here (no word boundary before its LIKE suffix).
    */
  private def rewriteLikeNoEscape(q0: String): String = {
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      LikeLitRe.findFirstMatchIn(q.substring(from)) match {
        case None => go = false
        case Some(m) =>
          val start = from + m.start
          val end = from + m.end
          if (lit(start)) from = start + 1
          else {
            val hasEscape = q.substring(end).matches("(?is)^\\s*ESCAPE\\b.*")
            val body = m.group(2)
            if (!hasEscape && body.contains("\\")) {
              val rep = s"${m.group(1)} '${body.replace("\\", "\\\\")}'"
              q = q.substring(0, start) + rep + q.substring(end)
              from = start + rep.length
            } else from = end
          }
      }
    }
    q
  }

  private val LikeEscNullRe =
    """(?i)\b(NOT\s+)?(I?LIKE)\s+('(?:[^']|'')*')\s+ESCAPE\s+NULL\b""".r

  /** `x [NOT] [I]LIKE 'pat' ESCAPE NULL` is NULL in DuckDB for every x;
    * Spark's grammar refuses a NULL escape outright. The predicate
    * reduces to `x = CAST(NULL AS STRING)` — NULL whatever x is.
    */
  private def rewriteLikeEscapeNull(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      val lit = literalMask(q)
      LikeEscNullRe.findAllMatchIn(q).find(m => !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          q = q.substring(0, m.start) + "= CAST(NULL AS STRING)" +
            q.substring(m.end)
      }
    }
    q
  }

  private val GlobInfixRe = """(?i)\bGLOB\s+('((?:[^']|'')*)'|NULL)""".r

  /** `x GLOB 'pat'` — DuckDB's byte-wise glob operator routes to the
    * [[graft.functions.DuckGlobMatch]] native (r16 likeglob barrage:
    * `?` matches one BYTE, classes/escapes/unterminated-`[` semantics
    * measured). Only the quoted-literal RHS shape rewrites; a computed
    * pattern stays loud (Spark has no GLOB to fall back on). The LHS
    * walk mirrors rewriteAtTimeZone: literal / balanced group / dotted
    * identifier.
    */
  private def rewriteGlobInfix(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      val lit = literalMask(q)
      GlobInfixRe.findAllMatchIn(q).find(m => !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          val pat =
            if (m.group(1).equalsIgnoreCase("NULL")) "CAST(NULL AS STRING)"
            else m.group(1)
          var i = m.start - 1
          while (i >= 0 && q.charAt(i).isWhitespace) i -= 1
          val lhsEnd = i
          require(i >= 0, s"GLOB without a left operand in: $q")
          if (q.charAt(i) == '\'' && lit(i)) {
            while (i >= 0 && lit(i)) i -= 1
          } else if (q.charAt(i) == ')') {
            var depth = 0
            var done = false
            while (i >= 0 && !done) {
              if (!lit(i)) {
                if (q.charAt(i) == ')') depth += 1
                else if (q.charAt(i) == '(') { depth -= 1; if (depth == 0) done = true }
              }
              i -= 1
            }
            while (i >= 0 &&
              (q.charAt(i).isLetterOrDigit || "_.\"".contains(q.charAt(i)))) i -= 1
          } else {
            val idEnd = i
            while (i >= 0 &&
              (q.charAt(i).isLetterOrDigit || "_.\"".contains(q.charAt(i)))) i -= 1
            require(idEnd > i, s"cannot parse GLOB left operand in: $q")
          }
          val lhsStart = i + 1
          val lhs = q.substring(lhsStart, lhsEnd + 1)
          q = q.substring(0, lhsStart) + s"__graft_glob($lhs, $pat)" +
            q.substring(m.end)
      }
    }
    q
  }

  /** `FROM unnest(expr)` — DuckDB's table-function position; the derived
    * table carries DuckDB's output column name (`unnest`), and a
    * following `AS t(x)` column alias keeps working on the subquery */
  /** table-position unnest. DuckDB auto-LATERALs the comma and JOIN
    * spellings (measured r19: `FROM t, unnest(t.l) u(x)` iterates per
    * row, empty/NULL lists DROP the row, `LEFT JOIN LATERAL … ON true`
    * keeps it with NULL) — the Spark twin is `LATERAL VIEW [OUTER]
    * explode`, which keeps correlation, stays codegen-friendly, and
    * needs no shuffle. The FROM-first spelling (nothing before it to
    * correlate with) keeps the derived-table rewrite.
    */
  private def rewriteUnnestFrom(q0: String): String = {
    val re = """(?i)\bunnest\s*\(""".r
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      re.findAllMatchIn(q).find(m => m.start >= from && !lit(m.start) &&
          (m.start == 0 || !identChar(q.charAt(m.start - 1)))) match {
        case None => go = false
        case Some(m) =>
          if (!tvfTablePos(q, lit, m.start)) from = m.end
          else {
            val open = q.indexOf('(', m.end - 1)
            val close = matchingParen(q, open, lit)
            val arg = q.substring(open + 1, close)
            // trailing alias: [AS] ident [(col)]
            var p = close + 1
            def ws(): Unit = { while (p < q.length && q.charAt(p).isWhitespace) p += 1 }
            ws()
            var tblAlias = ""
            var colAlias = ""
            var aliasEnd = close + 1
            if (p < q.length && (identChar(q.charAt(p)) || q.charAt(p) == '"')) {
              var e = p
              if (q.charAt(p) == '"') { e = q.indexOf('"', p + 1) + 1 }
              else while (e < q.length && identChar(q.charAt(e))) e += 1
              var w = q.substring(p, e)
              val kw = w.toLowerCase(java.util.Locale.ROOT)
              var isAlias = true
              if (kw == "as") {
                p = e; ws(); e = p
                while (e < q.length && identChar(q.charAt(e))) e += 1
                w = q.substring(p, e)
              } else if (Set("where", "group", "order", "having", "limit",
                  "union", "intersect", "except", "on", "join", "inner",
                  "left", "right", "full", "cross", "lateral", "window",
                  "qualify", "offset", "using").contains(kw)) {
                isAlias = false
              }
              if (isAlias && w.nonEmpty) {
                tblAlias = w.stripPrefix("\"").stripSuffix("\"")
                p = e; aliasEnd = e; ws()
                if (p < q.length && q.charAt(p) == '(') {
                  val ac = matchingParen(q, p)
                  val cols = splitTopCommas(q.substring(p + 1, ac)).map(_.trim)
                  require(cols.length == 1,
                    "unnest table alias takes a single column name")
                  colAlias = cols.head.stripPrefix("\"").stripSuffix("\"")
                  aliasEnd = ac + 1
                }
              }
            }
            // connector scan BACKWARD: comma / JOIN phrase / FROM
            var b = m.start - 1
            while (b >= 0 && q.charAt(b).isWhitespace) b -= 1
            var connStart = -1
            var outer = false
            var isComma = false
            var isFrom = false
            var sawJoin = false
            var scanning = true
            while (scanning && b >= 0) {
              if (q.charAt(b) == ',') {
                connStart = b; isComma = true; scanning = false
              } else if (identChar(q.charAt(b))) {
                var s0 = b
                while (s0 >= 0 && identChar(q.charAt(s0))) s0 -= 1
                val w = q.substring(s0 + 1, b + 1).toLowerCase(java.util.Locale.ROOT)
                w match {
                  case "lateral" =>
                    connStart = s0 + 1; b = s0
                    while (b >= 0 && q.charAt(b).isWhitespace) b -= 1
                  case "join" | "cross" | "inner" =>
                    sawJoin = true; connStart = s0 + 1; b = s0
                    while (b >= 0 && q.charAt(b).isWhitespace) b -= 1
                  case "left" | "outer" =>
                    sawJoin = true; outer = true; connStart = s0 + 1; b = s0
                    while (b >= 0 && q.charAt(b).isWhitespace) b -= 1
                  case "from" =>
                    // `FROM unnest(..)` / `FROM LATERAL unnest(..)` —
                    // nothing before it to correlate with
                    if (!sawJoin && !isComma) isFrom = true
                    scanning = false
                  case _ => scanning = false
                }
              } else scanning = false
            }
            if (isFrom) {
              // FROM-first: uncorrelated by construction — derived table
              val rep = s"(SELECT explode($arg) AS unnest)"
              q = q.substring(0, m.start) + rep + q.substring(close + 1)
              from = m.start + rep.length
            } else if (connStart >= 0 && (isComma || true)) {
              // consume a trailing literal `ON true` for JOIN spellings
              var end = aliasEnd
              val onRe = """(?is)^\s*ON\s+true\b""".r
              onRe.findFirstMatchIn(q.substring(aliasEnd)) match {
                case Some(om) if !isComma => end = aliasEnd + om.end
                case _ =>
              }
              val lv = (if (outer) "LATERAL VIEW OUTER" else "LATERAL VIEW") +
                s" explode($arg) " +
                (if (tblAlias.nonEmpty) tblAlias else "__graft_lv") +
                s" AS ${if (colAlias.nonEmpty) colAlias else "unnest"}"
              q = q.substring(0, connStart) + " " + lv + q.substring(end)
              from = connStart + lv.length + 1
            } else {
              val rep = s"(SELECT explode($arg) AS unnest)"
              q = q.substring(0, m.start) + rep + q.substring(close + 1)
              from = m.start + rep.length
            }
          }
      }
    }
    q
  }

  /** DuckDB list_product (measured): DOUBLE result, NULL elements
    * SKIPPED, the empty and all-NULL lists answer NULL (not 1.0)
    */
  private def listProductSql(l: String): String =
    s"aggregate(filter(($l), __lp -> __lp IS NOT NULL), " +
      s"CAST(NULL AS DOUBLE), (__la, __lx) -> CASE WHEN __la IS NULL " +
      s"THEN CAST(__lx AS DOUBLE) ELSE __la * CAST(__lx AS DOUBLE) END)"

  /** DuckDB list_aggregate(l, 'string_agg'[, sep]) (measured): NULL
    * elements skipped, default separator ','
    */
  private def listStringAggSql(l: String, sep: String): String =
    s"array_join(transform(($l), __ls -> CAST(__ls AS STRING)), $sep)"

  /** word-boundary identifier substitution in an expression body —
    * literal-masked, qualified references (`t.i`) left alone. A nested
    * lambda that REBINDS `name` — `(y, i) -> …` or the bare `i -> …` —
    * shadows the outer binding, so its entire body is copied verbatim
    * (r18 ADVICE: the outer index pass used to substitute the inner
    * lambda's shadowed references, and the inner pass then incremented
    * again — a 2-based inner index).
    */
  private def substIdent(body: String, name: String, rep: String): String = {
    val lm = literalMask(body)
    // end (exclusive) of a lambda body starting at `from`: the first
    // top-level comma or the close paren that unbalances the span
    def lambdaBodyEnd(from: Int): Int = {
      var j = from
      var depth = 0
      while (j < body.length) {
        if (!lm(j)) {
          body.charAt(j) match {
            case '(' | '[' => depth += 1
            case ')' | ']' => if (depth == 0) return j else depth -= 1
            case ',' if depth == 0 => return j
            case _ =>
          }
        }
        j += 1
      }
      body.length
    }
    def skipWs(from: Int): Int = {
      var j = from
      while (j < body.length && body.charAt(j).isWhitespace) j += 1
      j
    }
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (!lm(i) && c == '(') {
        // a multi-param lambda `(p1, p2) -> …` rebinding `name`?
        val close = matchingParen(body, i)
        val shadows = close > i && {
          val after = skipWs(close + 1)
          after + 1 < body.length && body.charAt(after) == '-' &&
            body.charAt(after + 1) == '>' &&
            splitTopCommas(body.substring(i + 1, close))
              .exists(_.trim.equalsIgnoreCase(name))
        }
        if (shadows) {
          val end = lambdaBodyEnd(skipWs(close + 1) + 2)
          sb.append(body.substring(i, end)); i = end
        } else { sb.append(c); i += 1 }
      } else if (!lm(i) && identChar(c) &&
          (i == 0 || (!identChar(body.charAt(i - 1)) && body.charAt(i - 1) != '.'))) {
        var e = i
        while (e < body.length && identChar(body.charAt(e))) e += 1
        val w = body.substring(i, e)
        val after = skipWs(e)
        if (w.equalsIgnoreCase(name) && after + 1 < body.length &&
            body.charAt(after) == '-' && body.charAt(after + 1) == '>') {
          // bare single-param lambda `name -> …` — rebinding: verbatim
          val end = lambdaBodyEnd(after + 2)
          sb.append(body.substring(i, end)); i = end
        } else {
          if (w.equalsIgnoreCase(name)) sb.append(rep) else sb.append(w)
          i = e
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** parse `(p1, p2[, p3]) -> body` → (params, body); None for 1-param
    * or non-lambda text
    */
  private def multiParamLambda(lam0: String): Option[(Seq[String], String)] = {
    val lam = lam0.trim
    if (!lam.startsWith("(")) return None
    val close = matchingParen(lam, 0)
    if (close < 0) return None
    val params = splitTopCommas(lam.substring(1, close)).map(_.trim)
    val rest = lam.substring(close + 1).trim
    if (params.length < 2 || !rest.startsWith("->")) None
    else Some((params, rest.drop(2).trim))
  }

  /** DuckDB index lambdas are 1-BASED (measured r18 lambda barrage:
    * `list_transform(['a','b'], (x, i) -> x || i)` = [a1, b2]) where
    * Spark's transform/filter index parameter is 0-based — the bare
    * rename was a SILENT off-by-one. A 2-parameter lambda's body gets
    * its index references substituted with `(i + 1)` (the parameter
    * still binds Spark's 0-based value; every use site reads 1-based).
    * The alias spellings (apply / list_apply / array_transform,
    * array_filter, and DuckDB's own filter) land on Spark's
    * transform/filter in the same pass.
    */
  private def rewriteLambdaIndexBase(q0: String): String = {
    def oneBased(lam: String): String =
      multiParamLambda(lam) match {
        case Some((Seq(x, i), body)) =>
          s"($x, $i) -> (${substIdent(body, i, s"($i + 1)")})"
        case _ => lam.trim
      }
    def fix(target: String)(args: Seq[String]): Option[String] = args match {
      case Seq(l, lam) => Some(s"$target(${l.trim}, ${oneBased(lam)})")
      case _ => None
    }
    // marker heads so a converted call can never be re-substituted by a
    // later alias pass (list_filter -> filter -> the filter pass would
    // 1-base the SAME body twice — measured off-by-two)
    var q = q0
    for (fn <- Seq("list_transform", "list_apply", "apply", "array_transform"))
      q = rewriteCalls(q, fn)(fix("__graft_xform"))
    for (fn <- Seq("list_filter", "array_filter", "filter"))
      q = rewriteCalls(q, fn)(fix("__graft_xfilter"))
    q.replace("__graft_xform(", "transform(")
      .replace("__graft_xfilter(", "filter(")
  }

  /** unnest ARGUMENT normalization (r18 tvf differential, measured):
    * `unnest(e, recursive := true)` flattens nested lists to the
    * innermost elements ([[graft.functions.RecursiveFlatten]]; NULL
    * sublists skipped, NULL leaves kept); `recursive := false` is the
    * plain unnest; a STRUCT-literal argument expands its fields to
    * COLUMNS — Spark's `inline` over a one-struct array is the exact
    * twin. Runs before [[rewriteUnnestZip]] so the zip pass sees only
    * plain single-argument unnests.
    */
  private def rewriteUnnestArgs(q0: String): String =
    rewriteCalls(q0, "unnest") { args =>
      val recRe = """(?is)^recursive\s*:=\s*(true|false)$""".r
      // a struct literal's commas sit at brace (not paren) depth, so the
      // call splitter hands them back as several "args" — rejoin first
      val whole = args.mkString(", ").trim
      if (whole.startsWith("{") && whole.endsWith("}"))
        Some(s"inline(array($whole))")
      else args match {
        case Seq(e, opt) => recRe.findFirstMatchIn(opt.trim) match {
          case Some(m) if m.group(1).equalsIgnoreCase("true") =>
            Some(s"unnest(__graft_flat_rec(${e.trim}))")
          case Some(_) => Some(s"unnest(${e.trim})")
          case None => None
        }
        case _ => None
      }
    }

  private val SelectWordRe = """(?i)\bSELECT\b""".r
  private val PostFromWords = Set("where", "group", "having", "window",
    "qualify", "order", "limit", "offset", "fetch", "union", "intersect",
    "except")

  /** DuckDB SELECT-position unnest ZIP semantics (r18 tvf differential,
    * measured): multiple unnests in ONE select list iterate in LOCKSTEP,
    * padding shorter lists with NULL — `SELECT unnest([1,2]) AS a,
    * unnest([10,20,30]) AS b` is THREE rows (1,10),(2,20),(NULL,30) —
    * where the one-explode-per-call rename produced their CARTESIAN
    * product: silently wrong results, the worst failure class. An
    * unnest nested inside an expression (`CAST(unnest(x) AS …)`) is
    * Spark's UNSUPPORTED_GENERATOR on top. Both shapes rewrite
    * POSITIONALLY: every `unnest(e)` becomes
    * `__graft_subscript((e), __graft_upos)` over ONE generated position
    * column 1..max(size(e_i), …) appended to the FROM as a LATERAL VIEW
    * — the 1-based out-of-range subscript answers NULL, which IS the
    * pad. A single BARE top-level unnest keeps the plain explode rename
    * (no extra lateral join, same plan as before). The generated
    * positions come from `slice(sequence(1, greatest(E, 1)), 1, E)` so
    * an all-empty/NULL input yields ZERO rows without tripping Spark's
    * descending `sequence(1, 0)`.
    */
  private def rewriteUnnestZip(q0: String): String = {
    val s = q0
    val lm = literalMask(s)
    def wordAt(j: Int): String = {
      var k = j
      while (k < s.length && identChar(s.charAt(k))) k += 1
      s.substring(j, k).toLowerCase(java.util.Locale.ROOT)
    }
    val unnestRe = """(?i)\bunnest\s*\(""".r
    for (m <- SelectWordRe.findAllMatchIn(s) if !lm(m.start) &&
        (m.start == 0 || !identChar(s.charAt(m.start - 1)))) {
      // ---- span discovery: items end, FROM position, clause/scope ends
      var depth = 0
      var fromIdx = -1
      var itemsEnd = -1
      var insertAt = -1 // first top-level post-FROM clause keyword
      var scopeEnd = s.length
      var j = m.end
      var done = false
      while (j < s.length && !done) {
        if (!lm(j)) {
          val c = s.charAt(j)
          if (c == '(') { depth += 1 }
          else if (c == ')') {
            if (depth == 0) { scopeEnd = j; done = true } else depth -= 1
          } else if (c == ';' && depth == 0) { scopeEnd = j; done = true }
          else if (depth == 0 && c.isLetter &&
              (j == 0 || !identChar(s.charAt(j - 1)))) {
            val w = wordAt(j)
            if (w == "from" && fromIdx < 0) {
              fromIdx = j
              if (itemsEnd < 0) itemsEnd = j
            } else if (PostFromWords.contains(w)) {
              if (itemsEnd < 0) itemsEnd = j
              if (insertAt < 0 && fromIdx >= 0) insertAt = j
              if (fromIdx < 0) { scopeEnd = j; done = true }
            }
            if (w == "from" || PostFromWords.contains(w)) j += w.length - 1
          }
        }
        j += 1
      }
      if (itemsEnd < 0) itemsEnd = scopeEnd
      if (insertAt < 0) insertAt = scopeEnd
      // ---- unnest occurrences in the item list, outside subqueries
      val occ = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      locally {
        var d = 0
        var sub = List.empty[Boolean] // per open paren: is a subquery?
        var k = m.end
        while (k < itemsEnd) {
          if (!lm(k)) {
            val c = s.charAt(k)
            if (c == '(') {
              var n = k + 1
              while (n < s.length && s.charAt(n).isWhitespace) n += 1
              sub = (n < s.length && !lm(n) &&
                wordAt(n) == "select") :: sub
              d += 1
            } else if (c == ')') { if (sub.nonEmpty) sub = sub.tail; d -= 1 }
            else if (!sub.contains(true) && (c == 'u' || c == 'U') &&
                (k == 0 || !identChar(s.charAt(k - 1))) &&
                wordAt(k) == "unnest") {
              val mm = unnestRe.findPrefixMatchOf(s.substring(k, itemsEnd))
              if (mm.isDefined) {
                val open = k + mm.get.end - 1
                val close = matchingParen(s, open)
                if (close >= 0 && close < itemsEnd) occ += ((k, open, close))
                // fall through WITHOUT skipping: the '(' at `open` must
                // still feed the paren/subquery stack on the next steps
              }
            }
          }
          k += 1
        }
      }
      if (occ.nonEmpty) {
        // an unnest nested inside another unnest's argument is DuckDB's
        // loud binder error (measured 1.0) — and splicing overlapping
        // spans would corrupt the query text (r18 ADVICE)
        for ((st1, _, c1) <- occ; (st2, _, c2) <- occ
             if st1 < st2 && c2 <= c1)
          throw new IllegalArgumentException(
            "Nested UNNEST calls are not supported - use " +
              "UNNEST(x, recursive := true) to unnest multiple levels")
        // a single BARE item keeps the plain explode rename
        lazy val bare = occ.length == 1 && {
          val (st, _, cl) = occ.head
          var p = st - 1
          while (p >= m.end && s.charAt(p).isWhitespace) p -= 1
          val leadOk = p < m.end || s.charAt(p) == ',' ||
            (identChar(s.charAt(p)) && {
              var b = p
              while (b >= 0 && identChar(s.charAt(b))) b -= 1
              val w = s.substring(b + 1, p + 1).toLowerCase(java.util.Locale.ROOT)
              w == "distinct" || w == "all"
            })
          var a = cl + 1
          while (a < itemsEnd && s.charAt(a).isWhitespace) a += 1
          val tailOk =
            if (a >= itemsEnd || s.charAt(a) == ',') true
            else if (identChar(s.charAt(a))) {
              var e = a
              while (e < itemsEnd && identChar(s.charAt(e))) e += 1
              if (s.substring(a, e).equalsIgnoreCase("as")) {
                var f = e
                while (f < itemsEnd && s.charAt(f).isWhitespace) f += 1
                while (f < itemsEnd && (identChar(s.charAt(f)) || s.charAt(f) == '"')) f += 1
                while (f < itemsEnd && s.charAt(f).isWhitespace) f += 1
                f >= itemsEnd || s.charAt(f) == ','
              } else {
                var f = e
                while (f < itemsEnd && s.charAt(f).isWhitespace) f += 1
                f >= itemsEnd || s.charAt(f) == ','
              }
            } else false
          leadOk && tailOk
        }
        if (!bare) {
          val args = occ.map { case (_, o, c) => s.substring(o + 1, c).trim }
          val sizes = args.distinct.map(a => s"size(($a))")
          val szE = s"greatest(${sizes.mkString(", ")}, 0)"
          val lateral = s" LATERAL VIEW explode(slice(sequence(1, " +
            s"greatest($szE, 1)), 1, $szE)) __graft_uv AS __graft_upos"
          var out = s
          // splice from the highest offset down: lateral first, then items
          if (fromIdx >= 0)
            out = out.substring(0, insertAt) + lateral + " " + out.substring(insertAt)
          else
            out = out.substring(0, itemsEnd) +
              s" FROM (SELECT 1 AS __graft_udummy)$lateral " + out.substring(itemsEnd)
          occ.reverseIterator.foreach { case (st, o, c) =>
            out = out.substring(0, st) +
              s"__graft_subscript((${s.substring(o + 1, c).trim}), __graft_upos)" +
              out.substring(c + 1)
          }
          return rewriteUnnestZip(out)
        }
      }
    }
    q0
  }

  /** DuckDB `string_agg(v[, sep] [ORDER BY …])` / `group_concat(…)`:
    * Spark 4 has string_agg, but (a) its default separator is '' where
    * DuckDB's is ',', and (b) DuckDB puts ORDER BY INSIDE the call where
    * Spark wants `WITHIN GROUP (ORDER BY …)` — both silently change
    * output if left alone */
  private def rewriteStringAgg(q0: String): String = {
    def rw(args: Seq[String]): Option[String] = {
      if (args.isEmpty) return None
      // a MULTI-KEY in-call ORDER BY carries top-level commas, so the
      // call splitter hands us >2 "args" — re-join and split at the
      // ORDER keyword first (r17: string_agg(v, ',' ORDER BY g, k DESC))
      val whole = args.mkString(", ")
      val (head, obTail) = splitTopLevelKeyword(whole, "ORDER")
      val ob = obTail.flatMap(t =>
        """(?is)^BY\b(.*)$""".r.findFirstMatchIn(t).map(_.group(1).trim))
      if (obTail.isDefined && ob.isEmpty) return None // ORDER w/o BY — not ours
      val parts = splitTopCommas(head).map(_.trim).filter(_.nonEmpty)
      if (parts.isEmpty || parts.lengthIs > 2) return None
      val expr = parts.head
      val sep = if (parts.lengthIs == 2) parts(1) else "','"
      // DuckDB's default null order is NULLS LAST for both directions;
      // Spark's WITHIN GROUP would put NULL keys FIRST under ASC
      // (measured r17: ORDER BY k over keys 1,2,NULL answers 'a,b,c' —
      // the NULL-key value LAST) — make it explicit per sort key
      val obNl = ob.map(o => splitTopCommas(o).map { p =>
        if ("""(?i)\bNULLS\s+(FIRST|LAST)\b""".r.findFirstIn(p).isDefined) p
        else p.trim + " NULLS LAST"
      }.mkString(", "))
      Some(s"string_agg($expr, $sep)" +
        obNl.map(o => s" WITHIN GROUP (ORDER BY $o)").getOrElse(""))
    }
    rewriteCalls(rewriteCalls(q0, "string_agg")(rw), "group_concat")(rw)
  }

  /** nearest clause keyword scanning BACKWARD from `p0` at the same
    * paren depth — decides whether a comma before a TVF name is a
    * FROM-list separator (table position, answers "from") or a
    * SELECT-list/argument comma. Hitting the enclosing '(' before any
    * clause keyword means argument position (answers "").
    */
  private def clauseBack(q: String, lm: Array[Boolean], p0: Int): String = {
    val kws = Set("from", "select", "where", "on", "having", "when",
      "then", "else", "set", "values", "limit", "offset", "using", "by",
      "returning", "qualify")
    var p = p0
    var depth = 0
    while (p >= 0) {
      val c = q.charAt(p)
      if (!lm(p)) {
        if (c == ')') depth += 1
        else if (c == '(') { if (depth == 0) return ""; depth -= 1 }
        else if (depth == 0 && identChar(c) &&
            (p == 0 || !identChar(q.charAt(p - 1)))) {
          var e = p
          while (e < q.length && identChar(q.charAt(e))) e += 1
          val w = q.substring(p, e).toLowerCase(java.util.Locale.ROOT)
          if (kws.contains(w)) return w
        }
      }
      p -= 1
    }
    ""
  }

  /** is the call whose name starts at `start` in TABLE position? True
    * behind FROM or JOIN, and behind a comma that is a FROM-list
    * separator (r18 ADVICE: `FROM t, range(3)` / `CROSS JOIN range(3)`
    * used to fall through to the list-valued select rewrite and fail
    * resolution).
    */
  private def tvfTablePos(q: String, lm: Array[Boolean], start: Int): Boolean = {
    var p = start - 1
    while (p >= 0 && q.charAt(p).isWhitespace) p -= 1
    if (p < 0) false
    else if (q.charAt(p) == ',') clauseBack(q, lm, p - 1) == "from"
    else {
      var b = p
      while (b >= 0 && identChar(q.charAt(b))) b -= 1
      val w = if (b < p) q.substring(b + 1, p + 1).toLowerCase(java.util.Locale.ROOT) else ""
      // LATERAL reaches here for `, LATERAL unnest(...)` / `JOIN
      // LATERAL unnest(...)` — table position either way
      w == "from" || w == "join" || w == "lateral"
    }
  }

  /** `FROM range(...)` — DuckDB's half-open integer table function.
    * Spark's native range() TVF has the SAME half-open semantics
    * (range(n)=0..n-1, range(a,b[,c]) excludes b, negative steps, empty
    * when crossed) but names its column `id` where DuckDB names it
    * `range` — left alone, a non-literal-arg call would silently run
    * with the wrong output schema (review-found). The rewrite is just
    * the rename, for literal AND runtime args alike; a 4th argument
    * (Spark's numPartitions, no DuckDB meaning) is refused. Covers
    * FROM/JOIN/FROM-list-comma positions — the surrounding keyword is
    * left intact and only the call span becomes a derived table. */
  private def rewriteRangeFrom(q0: String): String = {
    val re = """(?i)\brange\s*\(""".r
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      re.findAllMatchIn(q).find(m => m.start >= from && !lit(m.start) &&
          (m.start == 0 || !identChar(q.charAt(m.start - 1)))) match {
        case None => go = false
        case Some(m) =>
          if (!tvfTablePos(q, lit, m.start)) from = m.end
          else {
            val open = q.indexOf('(', m.end - 1)
            val close = matchingParen(q, open, lit)
            val args = splitTopCommas(q.substring(open + 1, close))
            require(args.length <= 3,
              "range() takes at most 3 arguments (start, stop, step)")
            // r18: DATE/TIMESTAMP bounds with an INTERVAL step take the
            // half-open native (DuckDB answers TIMESTAMPs, end excluded,
            // crossed direction a loud binder error); integer ranges
            // KEEP Spark's lazy native TVF — an array-returning
            // expression would materialize FROM range(1e9) on one row
            val timey = args.length == 3 &&
              """(?is)^\s*INTERVAL\b""".r.findFirstIn(args(2).trim).isDefined
            val rep =
              if (timey)
                s"(SELECT explode(__graft_range(" +
                  s"CAST(${args(0).trim} AS TIMESTAMP_NTZ), " +
                  s"CAST(${args(1).trim} AS TIMESTAMP_NTZ), " +
                  s"${args(2).trim})) AS range)"
              else s"(SELECT id AS range FROM range(${q.substring(open + 1, close)}))"
            q = q.substring(0, m.start) + rep + q.substring(close + 1)
            from = m.start + rep.length
          }
      }
    }
    q
  }

  /** SELECT-position `range(a, b[, step])` / `range(n)` — a LIST in
    * DuckDB with the half-open TVF semantics ([[graft.functions
    * .DuckRange]]: end excluded, crossed direction a loud binder error,
    * zero step refused, NULL args NULL). Runs AFTER [[rewriteRangeFrom]]
    * so the only `range(` left behind a FROM keyword is Spark's own
    * lazy TVF — skipped here.
    */
  private def rewriteRangeSelect(q0: String): String = {
    val re = """(?i)\brange\s*\(""".r
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      re.findAllMatchIn(q).find(m => m.start >= from && !lit(m.start) &&
          (m.start == 0 || !identChar(q.charAt(m.start - 1)))) match {
        case None => go = false
        case Some(m) =>
          var p = m.start - 1
          while (p >= 0 && q.charAt(p).isWhitespace) p -= 1
          var b = p
          while (b >= 0 && identChar(q.charAt(b))) b -= 1
          val prevWord =
            if (b < p) q.substring(b + 1, p + 1).toLowerCase(java.util.Locale.ROOT)
            else ""
          if (prevWord == "from") from = m.end
          else {
            val open = q.indexOf('(', m.end - 1)
            val close = matchingParen(q, open, lit)
            val args = splitTopCommas(q.substring(open + 1, close))
            if (args.isEmpty || args.length > 3) from = m.end
            else {
              val timey = args.length == 3 &&
                """(?is)^\s*INTERVAL\b""".r.findFirstIn(args(2).trim).isDefined
              val rep =
                if (args.length == 1) s"__graft_range(0, ${args.head.trim})"
                else if (timey)
                  s"__graft_range(CAST(${args(0).trim} AS TIMESTAMP_NTZ), " +
                    s"CAST(${args(1).trim} AS TIMESTAMP_NTZ), ${args(2).trim})"
                else s"__graft_range(${args.map(_.trim).mkString(", ")})"
              q = q.substring(0, m.start) + rep + q.substring(close + 1)
              from = m.start + rep.length
            }
          }
      }
    }
    q
  }

  private def rewriteGenerateSeriesFrom(q0: String): String = {
    val re = """(?i)\bgenerate_series\s*\(""".r
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      re.findAllMatchIn(q).find(m => m.start >= from && !lit(m.start) &&
          (m.start == 0 || !identChar(q.charAt(m.start - 1)))) match {
        case None => go = false
        case Some(m) =>
          if (!tvfTablePos(q, lit, m.start)) from = m.end
          else {
            val open = q.indexOf('(', m.end - 1)
            val close = matchingParen(q, open, lit)
            val args = splitTopCommas(q.substring(open + 1, close))
            // r18: an INTERVAL step walks the calendar CUMULATIVELY in
            // DuckDB (03-31 → 04-30 → 05-30), where Spark's sequence
            // computes start + i*step (05-31) — route through the
            // inclusive native; DATE bounds answer TIMESTAMPs there
            val rep =
              if (args.length == 3 &&
                  """(?is)^\s*INTERVAL\b""".r.findFirstIn(args(2).trim).isDefined)
                s"(SELECT explode(__graft_series(" +
                  s"CAST(${args(0).trim} AS TIMESTAMP_NTZ), " +
                  s"CAST(${args(1).trim} AS TIMESTAMP_NTZ), " +
                  s"${args(2).trim})) AS generate_series)"
              else s"(SELECT explode(sequence(${q.substring(open + 1, close)}))" +
                " AS generate_series)"
            q = q.substring(0, m.start) + rep + q.substring(close + 1)
            from = m.start + rep.length
          }
      }
    }
    q
  }

  private val StarExcludeParenRe = """(?i)(\*\s+)EXCLUDE(\s*\()""".r
  private val StarExcludeBareRe = """(?i)(\*\s+)EXCLUDE\s+("?\w+"?)""".r
  private val StarReplaceRe = """(?i)\*\s+REPLACE\s*\(""".r

  private def rewriteStarReplace(s: String): String = {
    // literal-masked: `'* REPLACE (…)'` inside a string must survive
    val lit = literalMask(s)
    StarReplaceRe.findAllMatchIn(s).find(m => !lit(m.start)) match {
      case None => s
      case Some(m) =>
        val open = s.indexOf('(', m.start)
        val close = matchingParen(s, open, lit)
        val entries = splitTopCommas(s.substring(open + 1, close)).map { e =>
          // `expr AS name`: a CAST(x AS T) inside expr sits at paren
          // depth > 0, so the top-level AS split is unambiguous
          val (ex, alias) = splitTopLevelKeyword(e, "AS")
          require(alias.isDefined, s"cannot parse REPLACE entry: '$e'")
          (ex, alias.get.stripPrefix("\"").stripSuffix("\""))
        }
        val names = entries.map(_._2).mkString(", ")
        val adds = entries.map { case (ex, n) => s"$ex AS $n" }.mkString(", ")
        rewriteStarReplace(
          s.substring(0, m.start) + s"* EXCEPT ($names), $adds" + s.substring(close + 1))
    }
  }

  private val StarRenameRe = """(?i)\*\s+RENAME\s*\(""".r

  /** `* RENAME (a AS b, c AS d)` — the third DuckDB star modifier
    * (EXCLUDE/REPLACE's sibling): keep every column, under new names
    * for the listed ones — desugars exactly like REPLACE. Known
    * divergence: the renamed columns move to the END of the select list
    * (DuckDB keeps their position) — the schema-free desugar cannot know
    * the star's expansion order. Names and values are exact; positional
    * consumers (INSERT without a column list, UNION by position) of a
    * *RENAME select see the moved order. */
  private def rewriteStarRename(s: String): String = {
    val lit = literalMask(s)
    StarRenameRe.findAllMatchIn(s).find(m => !lit(m.start)) match {
      case None => s
      case Some(m) =>
        val open = s.indexOf('(', m.start)
        val close = matchingParen(s, open, lit)
        val entries = splitTopCommas(s.substring(open + 1, close)).map { e =>
          val (ex, alias) = splitTopLevelKeyword(e, "AS")
          require(alias.isDefined, s"cannot parse RENAME entry: '$e'")
          (ex.trim, alias.get.stripPrefix("\"").stripSuffix("\""))
        }
        val names = entries.map(_._1).mkString(", ")
        val adds = entries.map { case (ex, n) => s"$ex AS $n" }.mkString(", ")
        rewriteStarRename(
          s.substring(0, m.start) + s"* EXCEPT ($names), $adds" + s.substring(close + 1))
    }
  }

  private val DistinctOnRe = """(?is)\bSELECT\s+DISTINCT\s+ON\s*\(""".r

  /** rewrites EVERY `SELECT DISTINCT ON (keys) … FROM …` — top-level or
    * nested in a subquery (r17 stmtshape: the old `^SELECT`-anchored form
    * silently let a subquery's `ON(keys)` parse as a function call). A
    * nested occurrence's scope ends at the enclosing ')' (depth scan). */
  private def rewriteDistinctOn(s0: String): String = {
    var s = s0
    var changed = true
    while (changed) {
      changed = false
      val lm = literalMask(s)
      DistinctOnRe.findAllMatchIn(s).find(m => !lm(m.start)).foreach { m =>
        // scope: from the SELECT to the enclosing unmatched ')' (or end)
        var i = m.start
        var depth = 0
        var scopeEnd = s.length
        var go = true
        while (go && i < s.length) {
          if (!lm(i)) {
            val c = s.charAt(i)
            if (c == '(') depth += 1
            else if (c == ')') {
              if (depth == 0) { scopeEnd = i; go = false } else depth -= 1
            }
          }
          i += 1
        }
        val seg = s.substring(m.start, scopeEnd)
        val segM = DistinctOnRe.findFirstMatchIn(seg).get
        val open = segM.end - 1 // the regex ends on the key list's '('
        val close = matchingParen(seg, open)
        val keys = seg.substring(open + 1, close).trim
        val rest = seg.substring(close + 1)
        val (selectList, fromTail0) = splitTopLevelKeyword(rest, "FROM")
        val fromTail = fromTail0.getOrElse(
          throw new IllegalArgumentException("DISTINCT ON needs a FROM clause"))
        val (fromBody, obTail) = splitTopLevelKeyword(fromTail, "ORDER BY")
        // the ORDER BY tail may carry LIMIT/OFFSET — those stay outer-only
        val winOrder = obTail
          .map(t => splitTopLevelKeyword(t, "LIMIT")._1)
          .filter(_.nonEmpty).getOrElse(keys)
        val sel =
          if (selectList.trim == "*") "* EXCEPT (__ddb_rn)" else selectList
        val repl =
          s"SELECT $sel FROM (SELECT *, row_number() OVER (PARTITION BY $keys " +
          s"ORDER BY $winOrder) AS __ddb_rn FROM $fromBody) WHERE __ddb_rn = 1" +
          obTail.map(t => s" ORDER BY $t").getOrElse("")
        s = s.substring(0, m.start) + repl + s.substring(scopeEnd)
        changed = true
      }
    }
    s
  }

  private val AsofRe = """(?i)\bASOF\s+(LEFT\s+)?(?:INNER\s+)?JOIN\b""".r
  /** keywords that terminate an ON condition at paren depth 0 */
  private val OnTerminators = Set("WHERE", "GROUP", "ORDER", "HAVING",
    "LIMIT", "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER", "LEFT",
    "RIGHT", "FULL", "CROSS", "ASOF", "SEMI", "ANTI", "WINDOW", "QUALIFY")

  /** end index (exclusive) of an ON condition starting at `from` */
  private[graft] def onConditionEnd(s: String, from: Int): Int = {
    val lit = literalMask(s)
    var i = from
    var depth = 0
    while (i < s.length) {
      if (!lit(i)) s.charAt(i) match {
        case '(' => depth += 1
        case ')' => if (depth == 0) return i else depth -= 1
        case ',' if depth == 0 => return i
        case _ if depth == 0 && (i == 0 || !isWordChar(s.charAt(i - 1))) =>
          val kwEnd = { var j = i; while (j < s.length && isWordChar(s.charAt(j))) j += 1; j }
          if (kwEnd > i && OnTerminators.contains(s.substring(i, kwEnd).toUpperCase))
            return i
        case _ =>
      }
      i += 1
    }
    s.length
  }

  /** split a condition at its top-level ANDs */
  private def splitTopAnds(cond: String): Seq[String] = {
    val (head, tail) = splitTopLevelKeyword(cond, "AND")
    tail match {
      case Some(t) => head +: splitTopAnds(t)
      case None => Seq(head)
    }
  }

  private def rewriteAsof(s: String): String = {
    // literal-masked: the phrase inside a string literal must survive
    val lit = literalMask(s)
    AsofRe.findAllMatchIn(s).find(m => !lit(m.start)) match {
      case None => s
      case Some(m) =>
        val isLeft = m.group(1) != null
        var i = m.end
        while (i < s.length && s.charAt(i).isWhitespace) i += 1
        // right side: `(subquery)` or a (possibly qualified) name
        val (rtable, afterTable) =
          if (i < s.length && s.charAt(i) == '(') {
            val close = matchingParen(s, i, lit)
            (s.substring(i, close + 1), close + 1)
          } else {
            var j = i
            while (j < s.length && (s.charAt(j).isLetterOrDigit ||
              "._\"".contains(s.charAt(j)))) j += 1
            (s.substring(i, j), j)
          }
        // optional [AS] alias, then ON
        val tailRe = """(?is)^\s*(?:AS\s+)?(?:(\w+)\s+)?ON\s""".r
        val tm = tailRe.findFirstMatchIn(s.substring(afterTable)).getOrElse(
          throw new IllegalArgumentException(
            s"ASOF JOIN needs an ON condition: ${s.substring(m.start).take(80)}"))
        val alias = Option(tm.group(1)).getOrElse(bareName(rtable))
        val condStart = afterTable + tm.end
        val condEnd = onConditionEnd(s, condStart)
        val cond = s.substring(condStart, condEnd).trim
        // the single inequality conjunct referencing the right alias
        // orders the LATERAL pick; DuckDB requires exactly one
        val CmpRe = """(?s)^(.*?)(>=|<=|>|<)(.*)$""".r
        def refsAlias(e: String) =
          e.matches(s"(?is).*\\b${java.util.regex.Pattern.quote(alias)}\\s*\\..*")
        val ineqs = splitTopAnds(cond).flatMap {
          case c @ CmpRe(l, op, r) if !c.contains("<>") && (refsAlias(l) || refsAlias(r)) =>
            Some((l.trim, op, r.trim))
          case _ => None
        }
        require(ineqs.size == 1,
          s"ASOF JOIN needs exactly one inequality on the right table, got ${ineqs.size}: $cond")
        val (lhs, op, rhs) = ineqs.head
        // pick the LATEST right row at-or-before (r <= l forms) or the
        // EARLIEST at-or-after (r >= l forms)
        val (rExpr, dir) = (refsAlias(lhs), op) match {
          case (true, "<=") | (true, "<")  => (lhs, "DESC") // r <= l
          case (true, ">=") | (true, ">")  => (lhs, "ASC")  // r >= l
          case (false, ">=") | (false, ">") => (rhs, "DESC") // l >= r
          case _                            => (rhs, "ASC")  // l <= r
        }
        val lat = (if (isLeft) "LEFT " else "") +
          s"JOIN LATERAL (SELECT * FROM $rtable AS $alias WHERE $cond " +
          s"ORDER BY $rExpr $dir LIMIT 1) AS $alias"
        // re-insert a separator: condEnd sits ON the terminator keyword,
        // whose preceding whitespace was folded into the trimmed cond
        val tail = s.substring(condEnd)
        val sep = if (tail.nonEmpty && !tail.head.isWhitespace && tail.head != ')' && tail.head != ',') " " else ""
        rewriteAsof(s.substring(0, m.start) + lat + sep + tail)
    }
  }

  private val SelectHeadRe = """(?is)^\s*SELECT\s+""".r

  /** `SELECT s FROM f QUALIFY p [ORDER BY o]` → window-in-subquery: the
    * predicate (a boolean over window functions, per DuckDB) moves into
    * the inner select list, the filter becomes a plain WHERE. Top-level
    * queries without GROUP BY (QUALIFY's common shape).
    */
  private def rewriteQualify(s: String): String = {
    val head = SelectHeadRe.findFirstMatchIn(s)
    if (head.isEmpty) return s
    val (pre, qualTail) = splitTopLevelKeyword(s, "QUALIFY")
    qualTail match {
      case None => s
      case Some(tail) =>
        val (pred0, obTail) = splitTopLevelKeyword(tail, "ORDER BY")
        val (pred, limTail) = splitTopLevelKeyword(pred0, "LIMIT")
        val body = pre.substring(head.get.end)
        val (selectList, fromTail0) = splitTopLevelKeyword(body, "FROM")
        val fromBody = fromTail0.getOrElse(
          throw new IllegalArgumentException("QUALIFY needs a FROM clause"))
        val sel =
          if (selectList.trim == "*") "* EXCEPT (__ddb_q)" else selectList
        s"SELECT $sel FROM (SELECT *, ($pred) AS __ddb_q FROM $fromBody) WHERE __ddb_q" +
          obTail.map(t => s" ORDER BY $t").getOrElse("") +
          limTail.map(t => s" LIMIT $t").getOrElse("")
    }
  }

  /** DuckDB type spelling in a CAST target -> Spark DDL spelling, only
    * for spellings Spark's parser does not take: array suffixes
    * (`VARCHAR[]` -> `ARRAY<STRING>`), DuckDB-style `STRUCT(a T)` /
    * `MAP(K, V)`, and the logical scalars JSON/UUID (-> STRING),
    * BLOB/BYTEA/VARBINARY (-> BINARY), HUGEINT (-> DECIMAL(38,0)),
    * TIMESTAMPTZ (-> TIMESTAMP), DATETIME (-> TIMESTAMP_NTZ). Spellings
    * Spark already parses (INTEGER, DECIMAL(p,s), DATE …) are left
    * untouched so settled plans do not move.
    */
  private def sparkCastType(tok: String): Option[String] = {
    val t = tok.trim
    val u = t.toUpperCase(java.util.Locale.ROOT)
    val word = u.takeWhile(c => c.isLetterOrDigit || c == '_')
    val needs = t.contains('[') ||
      ((word == "STRUCT" || word == "MAP") && t.contains('(')) ||
      Set("JSON", "UUID", "BLOB", "BYTEA", "VARBINARY", "HUGEINT",
          "TIMESTAMPTZ", "DATETIME",
          "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT").contains(u)
    if (!needs) None
    else scala.util.Try(CatalogSchema.parseLakeType(t).spark.sql).toOption
  }

  /** capture a type token starting at `st` in `s`: NAME, one optional
    * balanced paren group, then any `[]`/`[n]` suffixes; returns the end
    * index (exclusive) or -1 when no identifier starts there
    */
  private def typeTokenEnd(s: String, st: Int): Int = {
    var k = st
    while (k < s.length && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_')) k += 1
    if (k == st) return -1
    var end = k
    var j = k
    while (j < s.length && s.charAt(j).isWhitespace) j += 1
    if (j < s.length && s.charAt(j) == '(') {
      var depth = 0
      var i = j
      var close = -1
      while (i < s.length && close < 0) {
        val c = s.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth == 0) close = i }
        i += 1
      }
      if (close < 0) return end
      end = close + 1
    }
    var more = true
    while (more) {
      var i = end
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i < s.length && s.charAt(i) == '[') {
        val close = s.indexOf(']', i)
        if (close > 0 && s.substring(i + 1, close).trim.forall(_.isDigit))
          end = close + 1
        else more = false
      } else more = false
    }
    end
  }

  /** start index of the tight left operand of a postfix `::` cast at
    * `opPos`: one operand (string/typed literal, chained ()/[] groups
    * plus call name, or a dotted identifier/number), walking across any
    * earlier `::TYPE` links (`a::VARCHAR::TIMESTAMPTZ`). Unlike
    * [[quantLhsStart]] it does NOT cross binary arithmetic — `::`
    * binds tighter. r14 ADVICE. */
  private def castLhsStart(q: String, opPos: Int, lit: Array[Boolean]): Int = {
    var i = opPos - 1
    while (i >= 0 && q.charAt(i).isWhitespace) i -= 1
    var start = opPos
    var more = true
    val identCh = (c: Char) =>
      c.isLetterOrDigit || c == '_' || c == '.' || c == '"' || c == '$'
    while (more && i >= 0) {
      val c = q.charAt(i)
      if (c == '\'' && lit(i)) {
        while (i >= 0 && lit(i)) i -= 1
        start = i + 1
        val save = i
        while (i >= 0 && q.charAt(i).isWhitespace) i -= 1
        val idEnd = i
        while (i >= 0 && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_')) i -= 1
        val w = if (idEnd > i) q.substring(i + 1, idEnd + 1).toUpperCase(java.util.Locale.ROOT) else ""
        if (QuantTypedLitKws(w)) start = i + 1 else i = save
      } else if (c == ')' || c == ']') {
        while (i >= 0 && (q.charAt(i) == ')' || q.charAt(i) == ']')) {
          val closeCh = q.charAt(i)
          val openCh = if (closeCh == ')') '(' else '['
          var depth = 0
          var stop = false
          while (i >= 0 && !stop) {
            if (!lit(i)) {
              if (q.charAt(i) == closeCh) depth += 1
              else if (q.charAt(i) == openCh) { depth -= 1; if (depth == 0) stop = true }
            }
            i -= 1
          }
          start = i + 1
        }
        val idEnd = i
        var j = i
        while (j >= 0 && identCh(q.charAt(j))) j -= 1
        val w = if (idEnd > j) q.substring(j + 1, idEnd + 1).toUpperCase(java.util.Locale.ROOT) else ""
        if (w.nonEmpty && !QuantStopKws(w)) { start = j + 1; i = j }
      } else if (identCh(c)) {
        val idEnd = i
        while (i >= 0 && identCh(q.charAt(i))) i -= 1
        val w = q.substring(i + 1, idEnd + 1).toUpperCase(java.util.Locale.ROOT)
        require(!QuantStopKws(w), s"cannot capture the operand of a ::-cast in: $q")
        start = i + 1
      } else {
        require(start < opPos, s"cannot capture the operand of a ::-cast in: $q")
      }
      // an earlier `::TYPE` link belongs to the same operand
      if (i >= 1 && q.charAt(i) == ':' && q.charAt(i - 1) == ':') {
        i -= 2
        while (i >= 0 && q.charAt(i).isWhitespace) i -= 1
      } else more = false
    }
    start
  }

  // alternation order keeps plain `::TIMESTAMP` out of the TIME branch
  // (the trailing guard rejects a following word char); plain TIMESTAMP
  // is matched LAST and only rewritten when the operand carries a tag
  private val CastTzTimeRe =
    ("""::\s*(?i:(TIMESTAMPTZ|TIMESTAMP\s+WITH\s+TIME\s+ZONE|""" +
     """TIME(?:\s*\(\s*\d+\s*\))?(?:\s+WITHOUT\s+TIME\s+ZONE)?|TIMESTAMP))(?![\w(])""").r

  private val CastBitBlobRe =
    """::\s*((?i:BIT|BLOB|BYTEA|VARBINARY|UUID))(?![\w(\[])""".r

  // parameterized container types whose Spark spelling uses angle
  // brackets — rewritten to the CAST(..) form (see rewriteCastTargets)
  private val CastAngleRe =
    """::\s*((?i:MAP|STRUCT)\s*\()""".r

  /** rewrite `expr::TYPE` and `CAST/TRY_CAST(expr AS TYPE)` targets whose
    * DuckDB spelling Spark cannot parse (see [[sparkCastType]])
    */
  private def rewriteCastTargets(q0: String): String = {
    var q = q0
    // r14 ADVICE: the `::TIMESTAMPTZ` / `::TIME` spellings must route
    // through the same tag/native branches as CAST() — sparkCastType
    // alone would drop the tz render tag / miss the timestamp->time
    // source. Needs the left operand captured, hence the pre-pass.
    var from = 0
    var go = true
    while (go) {
      val lm0 = literalMask(q)
      CastTzTimeRe.findAllMatchIn(q).find(mm => mm.start >= from && !lm0(mm.start)) match {
        case None => go = false
        case Some(mm) =>
          val target = mm.group(1).toUpperCase(java.util.Locale.ROOT)
          val lhsStart = castLhsStart(q, mm.start, lm0)
          val lhs = q.substring(lhsStart, mm.start).trim
          require(lhs.nonEmpty,
            s"cannot capture the operand of a ::-cast in: $q")
          val rep =
            if (target == "TIMESTAMP") {
              // instant -> naive barrier, same as the CAST() spelling;
              // an untagged `::TIMESTAMP` stays as-is (skip forward)
              if (lhs.contains("__graft_tstz") || lhs.contains("__graft_at_tz"))
                Some(s"__graft_tsntz(CAST($lhs AS TIMESTAMP_LTZ))")
              else None
            } else if (target.startsWith("TIMESTAMP"))
              Some(s"__graft_tstz(CAST($lhs AS TIMESTAMP))")
            else Some(s"__graft_to_time($lhs)")
          rep match {
            case Some(r) =>
              q = q.substring(0, lhsStart) + r + q.substring(mm.end)
              from = lhsStart + r.length
            case None => from = mm.end
          }
      }
    }
    // ::BIT/::BLOB/::UUID — value-semantics natives (r16 uuid-blob
    // barrage: escape-decoding BLOB, validated BIT carrier, canonical-
    // lowercase UUID). Must run BEFORE the generic sparkCastType pass,
    // which would map BLOB to a raw BINARY cast (no \xHH decode).
    from = 0
    go = true
    while (go) {
      val lm1 = literalMask(q)
      CastBitBlobRe.findAllMatchIn(q).find(mm => mm.start >= from && !lm1(mm.start)) match {
        case None => go = false
        case Some(mm) =>
          val target = mm.group(1).toUpperCase(java.util.Locale.ROOT)
          val lhsStart = castLhsStart(q, mm.start, lm1)
          val lhs = q.substring(lhsStart, mm.start).trim
          require(lhs.nonEmpty,
            s"cannot capture the operand of a ::-cast in: $q")
          val fn = target match {
            case "BIT" => "__graft_bit"
            case "UUID" => "__graft_uuid"
            case _ => "__graft_blob"
          }
          val r = s"$fn($lhs)"
          q = q.substring(0, lhsStart) + r + q.substring(mm.end)
          from = lhsStart + r.length
      }
    }
    // ::MAP(k,v) / ::STRUCT(..) — Spark spells these with ANGLE
    // brackets, whose commas a later call-argument splitter cannot see
    // (r16 mapdepth barrage: `map_extract(NULL::MAP(VARCHAR,INTEGER),
    // 'a')` split into three args and the rewrite never fired). Emit
    // the CAST(lhs AS T) form instead, which keeps commas in parens.
    from = 0
    go = true
    while (go) {
      val lm2 = literalMask(q)
      CastAngleRe.findAllMatchIn(q).find(mm => mm.start >= from && !lm2(mm.start)) match {
        case None => go = false
        case Some(mm) =>
          val tyStart = mm.start(1)
          val tyEnd = typeTokenEnd(q, tyStart)
          sparkCastType(q.substring(tyStart, tyEnd)) match {
            case Some(tr) =>
              val lhsStart = castLhsStart(q, mm.start, lm2)
              val lhs = q.substring(lhsStart, mm.start).trim
              require(lhs.nonEmpty,
                s"cannot capture the operand of a ::-cast in: $q")
              val r = s"CAST($lhs AS $tr)"
              q = q.substring(0, lhsStart) + r + q.substring(tyEnd)
              from = lhsStart + r.length
            case None => from = tyEnd
          }
      }
    }
    // ::TYPE — scan outside literals
    val sb = new StringBuilder
    val m = literalMask(q)
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (!m(i) && c == ':' && i + 1 < q.length && q.charAt(i + 1) == ':' &&
          (i == 0 || q.charAt(i - 1) != ':')) {
        var k = i + 2
        while (k < q.length && q.charAt(k).isWhitespace) k += 1
        val end = typeTokenEnd(q, k)
        if (end > 0) {
          sparkCastType(q.substring(k, end)) match {
            case Some(tr) => sb.append("::").append(tr); i = end
            case None     => sb.append("::"); i += 2
          }
        } else { sb.append("::"); i += 2 }
      } else { sb.append(c); i += 1 }
    }
    q = sb.toString
    // CAST(expr AS TYPE) / TRY_CAST(expr AS TYPE)
    for (fn <- Seq("cast", "try_cast")) q = rewriteCalls(q, fn) { args =>
      if (args.length != 1) None
      else {
        val a = args.head
        val lm = literalMask(a)
        // last depth-0 ` AS ` outside literals
        var depth = 0
        var at = -1
        var j = 0
        while (j < a.length) {
          val ch = a.charAt(j)
          if (!lm(j)) {
            if (ch == '(' || ch == '[') depth += 1
            else if (ch == ')' || ch == ']') depth -= 1
            else if (depth == 0 && (ch == 'a' || ch == 'A') && j > 0 &&
                a.charAt(j - 1).isWhitespace && j + 2 < a.length &&
                (a.charAt(j + 1) == 's' || a.charAt(j + 1) == 'S') &&
                a.charAt(j + 2).isWhitespace) at = j
          }
          j += 1
        }
        if (at < 0) None
        else {
          val target = a.substring(at + 3).trim.toUpperCase(java.util.Locale.ROOT)
          val expr = a.substring(0, at).trim
          // r13 tz: CAST(x AS TIMESTAMPTZ) keeps tz-ness via the tag
          // (identity under the UTC session; render adds '+00');
          // CAST(x AS TIME) goes native (Spark's cast lacks the
          // timestamp -> time-of-day source DuckDB has)
          // r14 ADVICE: TRY_CAST keeps TRY semantics on the tz/time
          // branches — the fn is preserved inside the tag, and TIME
          // routes to the tryMode native (parse failure -> NULL)
          val FN = fn.toUpperCase(java.util.Locale.ROOT)
          if (target == "TIMESTAMPTZ" ||
              target.matches("""TIMESTAMP\s+WITH\s+TIME\s+ZONE"""))
            Some(s"__graft_tstz($FN($expr AS TIMESTAMP))")
          else if (target == "TIME" || target.matches("""TIME\s*\(\s*\d+\s*\)"""))
            Some(if (fn == "try_cast") s"__graft_try_to_time($expr)"
                 else s"__graft_to_time($expr)")
          else if (target == "TIMESTAMP" && (expr.contains("__graft_tstz") ||
              expr.contains("__graft_at_tz")))
            // instant -> naive conversion (identity under the UTC
            // session) — the explicit barrier strips the render tag;
            // analyzer-inserted no-op casts stay transparent in TzTrace.
            // TIMESTAMP_LTZ is the same Spark type under a different
            // spelling: the emitted cast must NOT re-match this branch
            // (rewriteCalls rescans the replacement)
            Some(s"__graft_tsntz($FN($expr AS TIMESTAMP_LTZ))")
          else if (target == "BIT")
            Some(s"__graft_${if (fn == "try_cast") "try_" else ""}bit($expr)")
          else if (target == "UUID")
            Some(s"__graft_${if (fn == "try_cast") "try_" else ""}uuid($expr)")
          else if (target == "BLOB" || target == "BYTEA" || target == "VARBINARY")
            // value-semantics blob cast: decodes \xHH, refuses non-ASCII
            // (r16 — the raw BINARY mapping kept escape text as bytes)
            Some(s"__graft_${if (fn == "try_cast") "try_" else ""}blob($expr)")
          else sparkCastType(a.substring(at + 3)).map(tr =>
            s"${fn.toUpperCase(java.util.Locale.ROOT)}($expr AS $tr)")
        }
      }
    }
    q
  }

  private val SamplePctRe =
    """(?i)\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(?:%|\bPERCENT\b)""".r
  private val SampleRowsRe =
    """(?i)\bUSING\s+SAMPLE\s+(\d+)(?:\s+ROWS)?\b""".r
  // seeded row-count sample: `FROM t USING SAMPLE <n> [ROWS] REPEATABLE
  // (<seed>)` (also the reservoir(<n> ROWS) and `(method, seed)`
  // spellings). DuckDB's seeded reservoir draw is engine-internal, so no
  // cross-engine run reproduces it — this engine defines the seeded draw
  // DETERMINISTICALLY as the md5 rank over (seed, row values): every
  // engine computing md5(concat_ws('|', seed, cols…)) picks the same
  // rows, which is what makes the form oracle-checkable. Distributed
  // shape: ORDER BY + LIMIT n = TakeOrderedAndProject, no global sort.
  private val SampleSeededRowsRe =
    ("""(?i)\bFROM\s+([\w\.\"]+)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s+USING\s+SAMPLE\s+""" +
     """(?:reservoir\s*\(\s*(\d+)\s*(?:ROWS?)?\s*\)|(\d+)\s*(?:ROWS?)?)\s*""" +
     """(?:REPEATABLE\s*\(\s*(\d+)\s*\)|\(\s*[A-Za-z]\w*\s*,\s*(\d+)\s*\))""").r
  // seeded percent sample -> Spark's own seeded TABLESAMPLE (REPEATABLE
  // is per-engine deterministic, not cross-engine — no oracle twin)
  private val SampleSeededPctRe =
    ("""(?i)\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(?:%|\bPERCENT\b)\s*""" +
     """(?:REPEATABLE\s*\(\s*(\d+)\s*\)|\(\s*[A-Za-z]\w*\s*,\s*(\d+)\s*\))""").r

  /** DuckDB window frame `EXCLUDE` modifier — Spark has no equivalent.
    * `EXCLUDE NO OTHERS` (the default) drops; `EXCLUDE CURRENT ROW`
    * rewrites as frame-aggregate minus the current row's contribution,
    * which is exactly right for the decomposable aggregates sum / count
    * / avg over a frame that CONTAINS the current row (checked — a frame
    * like `5 PRECEDING AND 2 PRECEDING` never held the current row, so
    * subtracting it would be wrong: refused loudly). EXCLUDE GROUP /
    * EXCLUDE TIES need peer-group bookkeeping no composition of Spark
    * window built-ins carries: refused loudly.
    */
  private def rewriteWindowExclude(q0: String): String = {
    val overRe = """(?i)\bOVER\s*\(""".r
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      overRe.findFirstMatchIn(q.substring(from)) match {
        case None => go = false
        case Some(m) =>
          val overStart = from + m.start
          if (lit(overStart)) { from = overStart + 1 }
          else {
            val open = from + m.end - 1
            val close = matchingParen(q, open, lit)
            val body = q.substring(open + 1, close)
            val exRe = """(?is)^(.*?)\s*\bEXCLUDE\s+(CURRENT\s+ROW|NO\s+OTHERS|GROUP|TIES)\s*$""".r
            body match {
              case exRe(frame, modRaw) =>
                val mod = modRaw.toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
                if (mod == "NO OTHERS") {
                  // the default — drop the modifier
                  q = q.substring(0, open + 1) + frame + q.substring(close)
                  from = overStart + 1
                } else {
                  // the aggregate call directly before OVER
                  val callStart = primaryStart(q, overStart)
                  require(callStart >= 0, "cannot locate the window function for EXCLUDE")
                  val callText = q.substring(callStart, overStart).trim
                  val fnOpen = callText.indexOf('(')
                  require(fnOpen > 0 && callText.endsWith(")"),
                    s"cannot parse window function '$callText' for EXCLUDE")
                  val fn = callText.substring(0, fnOpen).trim.toLowerCase(java.util.Locale.ROOT)
                  val arg = callText.substring(fnOpen + 1, callText.length - 1).trim
                  val over = s"OVER (${frame.trim})"
                  // general bounded-ROWS path (r16 windepth barrage):
                  // collect the frame as (orderkey, value) structs, drop
                  // the excluded entries by position / peer key, then
                  // re-aggregate through the DuckDB-typed list natives.
                  // Works for any exclusion over any bounded ROWS frame
                  // with a single ORDER BY key — the subtraction paths
                  // below stay preferred where they apply (no per-row
                  // list materialization).
                  def generalRowsPath(mod0: String): Option[String] = {
                    val fs = """(?is)^(.*?)\s*\bROWS\s+BETWEEN\s+(UNBOUNDED|\d+)\s+PRECEDING\s+AND\s+(CURRENT\s+ROW|\d+\s+FOLLOWING|UNBOUNDED\s+FOLLOWING)\s*$""".r
                    frame.trim match {
                      case fs(po0, start, _) =>
                        val po = po0.trim
                        val obm = """(?is)^(.*?)\bORDER\s+BY\s+(.+)$""".r.findFirstMatchIn(po)
                        if (obm.isEmpty) return None
                        var key = obm.get.group(2).trim
                        """(?is)^(.*?)\s+(ASC|DESC)$""".r.findFirstMatchIn(key)
                          .foreach(m2 => key = m2.group(1).trim)
                        if (splitTopCommas(key).length != 1) return None
                        if (!Set("sum", "count", "min", "max", "avg")(fn) ||
                            arg == "*" || arg == "1") return None
                        val rn = s"(row_number() OVER ($po))"
                        val pos0 = if (start.equalsIgnoreCase("UNBOUNDED")) s"($rn - 1)"
                                   else s"least($rn - 1, $start)"
                        val lst = s"(collect_list(named_struct('k', ($key), 'x', ($arg))) $over)"
                        val keep = mod0 match {
                          case "CURRENT ROW" => s"(__we, __wi) -> __wi <> $pos0"
                          case "GROUP" => s"(__we, __wi) -> NOT (__we.k <=> ($key))"
                          case _ /* TIES */ =>
                            s"(__we, __wi) -> (__wi = $pos0) OR NOT (__we.k <=> ($key))"
                        }
                        val vals = s"transform(filter($lst, $keep), __we -> __we.x)"
                        Some(fn match {
                          case "min" => s"array_min($vals)"
                          case "max" => s"array_max($vals)"
                          case "sum" => s"__graft_list_sum($vals)"
                          case "avg" => s"__graft_list_avg($vals)"
                          case _ => s"size(filter($vals, __wc -> __wc IS NOT NULL))"
                        })
                      case _ => None
                    }
                  }
                  val rep = if (mod == "CURRENT ROW") {
                    // frame must contain the current row for minus-current
                    val f = frame.toUpperCase(java.util.Locale.ROOT)
                    val contains =
                      !f.contains(" PRECEDING AND") || f.contains("AND CURRENT ROW") ||
                        f.contains("FOLLOWING")
                    val bothPreceding = """(?s).*PRECEDING\s+AND\s+\d+\s+PRECEDING.*""".r
                      .matches(f)
                    val bothFollowing = """(?s).*\bBETWEEN\s+\d+\s+FOLLOWING.*""".r.matches(f)
                    require(contains && !bothPreceding && !bothFollowing,
                      s"EXCLUDE CURRENT ROW over a frame that does not contain " +
                      s"the current row ($frame) — nothing to exclude; remove the " +
                      "modifier")
                    // rows REMAINING after the exclusion: when zero, the
                    // excluded aggregate is NULL (sum over no rows), not 0
                    def remaining =
                      s"((count($arg) $over) - (CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END))"
                    fn match {
                      case "sum" =>
                        s"(CASE WHEN $remaining = 0 THEN NULL " +
                        s"ELSE (sum($arg) $over) - coalesce($arg, 0) END)"
                      case "count" if arg == "*" || arg == "1" =>
                        s"((count($arg) $over) - 1)"
                      case "count" =>
                        s"((count($arg) $over) - (CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END))"
                      case "avg" =>
                        s"(CAST((sum($arg) $over) - coalesce($arg, 0) AS DOUBLE) / " +
                        s"nullif((count($arg) $over) - (CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END), 0))"
                      case other => generalRowsPath("CURRENT ROW").getOrElse(
                        throw new IllegalArgumentException(
                          s"EXCLUDE CURRENT ROW is supported for sum / count / " +
                          s"avg (frame minus current-row contribution) and for " +
                          s"min / max / sum / avg over bounded single-key ROWS " +
                          s"frames (frame-collect path); '$other' here has " +
                          "neither — rewrite the query without EXCLUDE"))
                    }
                  } else {
                    // EXCLUDE GROUP / TIES (r12): frame-aggregate minus the
                    // PEER-GROUP aggregate (a second window over the same
                    // partition+order with RANGE BETWEEN CURRENT ROW AND
                    // CURRENT ROW — exactly the order-key peers); TIES adds
                    // the current row's own contribution back. Sound only
                    // when the frame contains the WHOLE peer group: any
                    // RANGE frame spanning value-distance 0, or ROWS over
                    // the full partition — anything else stays loud.
                    val fs = """(?is)^(.*?)\s*\b(ROWS|RANGE|GROUPS)\s+(.*)$""".r
                    val (po, mode, bounds) = frame.trim match {
                      case fs(p, md, b) =>
                        (p.trim, md.toUpperCase(java.util.Locale.ROOT),
                          b.toUpperCase(java.util.Locale.ROOT).trim)
                      // no explicit frame: the default is RANGE UNBOUNDED
                      // PRECEDING AND CURRENT ROW — peer-complete
                      case other => (other.trim, "RANGE",
                        "BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
                    }
                    require("""(?is).*\bORDER\s+BY\b.*""".r.matches(po),
                      s"EXCLUDE $mod needs an ORDER BY (peers are the order-key equals)")
                    val wholePeers = mode match {
                      case "RANGE" =>
                        !("""(?s).*PRECEDING\s+AND\s+\S+\s+PRECEDING.*""".r.matches(bounds) ||
                          """(?s).*\bBETWEEN\s+\S+\s+FOLLOWING.*""".r.matches(bounds))
                      case "ROWS" =>
                        bounds.replaceAll("\\s+", " ") ==
                          "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
                      case _ => false
                    }
                    if (!wholePeers)
                      generalRowsPath(mod).getOrElse(throw new IllegalArgumentException(
                        s"EXCLUDE $mod over a $mode frame that may not contain the " +
                        "whole peer group has no frame-minus-peer-group " +
                        "decomposition and no frame-collect path (bounded " +
                        "single-key ROWS only) — use a RANGE frame spanning the " +
                        "current row, or ROWS BETWEEN UNBOUNDED PRECEDING AND " +
                        "UNBOUNDED FOLLOWING"))
                    else {
                    val pover = s"OVER ($po RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
                    val back = mod == "TIES"
                    def cnt = s"((count($arg) $over) - (count($arg) $pover)" +
                      (if (!back) ""
                       else if (arg == "*" || arg == "1") " + 1"
                       else s" + (CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END)") + ")"
                    def sm = s"((sum($arg) $over) - coalesce(sum($arg) $pover, 0)" +
                      (if (back) s" + coalesce($arg, 0)" else "") + ")"
                    fn match {
                      case "count" => cnt
                      case "sum"   => s"(CASE WHEN $cnt = 0 THEN NULL ELSE $sm END)"
                      case "avg"   => s"(CAST($sm AS DOUBLE) / nullif($cnt, 0))"
                      case other => generalRowsPath(mod).getOrElse(
                        throw new IllegalArgumentException(
                          s"window frame EXCLUDE $mod is supported for sum / " +
                          s"count / avg and, over bounded single-key ROWS " +
                          s"frames, min / max; '$other' has neither path — " +
                          "rewrite the query without EXCLUDE"))
                    }
                    }
                  }
                  q = q.substring(0, callStart) + rep + q.substring(close + 1)
                  from = callStart + rep.length
                }
              case _ => from = open + 1
            }
          }
      }
    }
    q
  }

  private def rewriteSampleSeeded(q: String): String = {
    val afterRows = SampleSeededRowsRe.replaceAllIn(q, m => {
      val base = m.group(1)
      val alias = Option(m.group(2)).getOrElse(bareName(m.group(1)))
      val n = Option(m.group(3)).getOrElse(m.group(4))
      val seed = Option(m.group(5)).getOrElse(m.group(6))
      // the md5 rank key is projected first (Spark rejects `*` in Sort),
      // ordered + limited, then dropped again via EXCEPT
      java.util.regex.Matcher.quoteReplacement(
        s"FROM (SELECT * EXCEPT (__smp_k) FROM " +
        s"(SELECT *, md5(concat_ws('|', $seed, *)) AS __smp_k FROM $base) " +
        s"ORDER BY __smp_k LIMIT $n) AS $alias")
    })
    SampleSeededPctRe.replaceAllIn(afterRows, m => {
      val seed = Option(m.group(2)).getOrElse(m.group(3))
      s"TABLESAMPLE (${m.group(1)} PERCENT) REPEATABLE ($seed)"
    })
  }

  // ------------------------------------------ DuckDB bracket semantics
  // DuckDB subscripts are 1-BASED (`arr[1]` = first element) and a bare
  // `[a, b, c]` is a list constructor; Spark's `[]` is 0-based and has no
  // bare list literal. Passing a DuckDB subscript through unchanged is
  // the worst dialect failure mode — silently WRONG by one — so `[...]`
  // is rewritten: subscripts -> element_at(base, idx) (1-based in Spark,
  // matching DuckDB; works for maps too), literals -> array(...). Slices
  // (`x[1:3]`) are left for Spark to reject loudly rather than guessed.

  private def identChar(c: Char) = Character.isLetterOrDigit(c) || c == '_' || c == '$'

  /** keywords that prefix a quoted TYPED literal — part of the primary
    * expression when walking left from the literal (r18 slice work)
    */
  private val TypedLitPrefixWords =
    Set("interval", "date", "time", "timestamp", "timestamptz")

  /** SQL words that can directly precede a bare list literal — never the
    * base of a subscript
    */
  private val NonBaseWords = Set("select", "from", "where", "when", "then",
    "else", "end", "and", "or", "not", "in", "on", "by", "as", "case",
    "union", "all", "distinct", "having", "group", "order", "limit",
    "offset", "join", "left", "right", "full", "cross", "values",
    "between", "like", "ilike", "is", "null", "true", "false", "return",
    // NOT 'row': a column genuinely named row subscripted as row[1] is a
    // subscript; DuckDB's row constructor is row(...), never row[...] (r8)
    "returning", "array", "if", "coalesce", "unnest")

  /** type names: `INTEGER[]` / `VARCHAR[3]` are array TYPE declarations,
    * not subscripts
    */
  private val TypeWords = Set("int", "integer", "int4", "int8", "bigint",
    "smallint", "tinyint", "hugeint", "varchar", "text", "string", "char",
    "double", "float", "float4", "float8", "real", "decimal", "numeric",
    "date", "timestamp", "timestamptz", "time", "boolean", "bool", "blob",
    "bytea", "uuid", "json", "interval")

  /** start index of the primary expression ending just before `end`
    * (identifier chain, call, parenthesized/bracketed group, quoted
    * ident — with `.`-qualified continuations), or -1
    */
  private def primaryStart(s: String, end: Int): Int = {
    var k = end - 1
    while (k >= 0 && s.charAt(k).isWhitespace) k -= 1
    var start = -1
    var go = k >= 0
    while (go) {
      val c = s.charAt(k)
      if (c == ')' || c == ']') {
        val open = if (c == ')') '(' else '['
        var depth = 0
        var j = k
        var found = -1
        while (j >= 0 && found < 0) {
          val cj = s.charAt(j)
          if (cj == c) depth += 1
          else if (cj == open) { depth -= 1; if (depth == 0) found = j }
          j -= 1
        }
        if (found < 0) return -1
        k = found - 1
        start = found
        if (c == ')' && k >= 0 && identChar(s.charAt(k))) { // call: include fn name
          while (k >= 0 && identChar(s.charAt(k))) k -= 1
          start = k + 1
        }
      } else if (c == '"') {
        var j = k - 1
        while (j >= 0 && s.charAt(j) != '"') j -= 1
        if (j < 0) return -1
        start = j
        k = j - 1
      } else if (c == '\'') {
        // a string literal base ('hello'[2]); walk to its opening quote,
        // treating '' pairs as escapes inside the literal
        var j = k - 1
        var open = -1
        while (j >= 0 && open < 0) {
          if (s.charAt(j) == '\'') {
            if (j - 1 >= 0 && s.charAt(j - 1) == '\'') j -= 2
            else open = j
          } else j -= 1
        }
        if (open < 0) return -1
        start = open
        k = open - 1
        // a TYPED literal's keyword is part of the primary expression
        // (INTERVAL '1 day' / 2 must not split into INTERVAL + '1 day')
        var w = k
        while (w >= 0 && s.charAt(w).isWhitespace) w -= 1
        val we = w
        while (w >= 0 && identChar(s.charAt(w))) w -= 1
        val word =
          if (w < we) s.substring(w + 1, we + 1).toLowerCase(java.util.Locale.ROOT)
          else ""
        if (TypedLitPrefixWords.contains(word)) { start = w + 1; k = w }
      } else if (identChar(c)) {
        while (k >= 0 && identChar(s.charAt(k))) k -= 1
        start = k + 1
      } else return start
      if (k >= 0 && s.charAt(k) == '.') { k -= 1; go = k >= 0 }
      else go = false
    }
    start
  }

  private def matchingBracket(s: String, open: Int, lit: Array[Boolean]): Int =
    matchingClose(s, open, '[', ']', lit)

  private[lake] def rewriteBrackets(s: String): String = {
    val lit = literalMask(s)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '[' && !lit(i)) {
        val close = matchingBracket(s, i, lit)
        if (close < 0) return s // unbalanced — let the engine report it
        val content = s.substring(i + 1, close)
        var p = i - 1
        while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
        val prev = if (p >= 0) s.charAt(p) else ' '
        // a string LITERAL is a valid subscript/slice base ('hello'[2],
        // measured r18 slice differential) — its closing quote sits
        // inside the literal mask, hence the explicit prev == '\''
        val subscriptish = p >= 0 &&
          ((!lit(p) && (identChar(prev) || prev == ')' || prev == ']' ||
            prev == '"')) || prev == '\'')
        lazy val baseStart = primaryStart(s, i)
        lazy val base = if (baseStart >= 0) s.substring(baseStart, i).trim else ""
        lazy val baseWord = base.toLowerCase
        val topColonIdx = { // slice x[a:b] — position of the bound separator
          var j = i + 1; var d = 0; var idx = -1
          while (j < close && idx < 0) {
            if (!lit(j)) s.charAt(j) match {
              case '[' | '(' => d += 1
              case ']' | ')' => d -= 1
              // '::'-pair aware: a cast inside the subscript never splits
              case ':' if d == 0 &&
                  (j + 1 >= close || s.charAt(j + 1) != ':') &&
                  s.charAt(j - 1) != ':' => idx = j
              case _ =>
            }
            j += 1
          }
          idx
        }
        val topColon = topColonIdx >= 0
        if (subscriptish && baseStart >= 0 && !NonBaseWords.contains(baseWord)) {
          // a TypeWords base is a TYPE declaration only with an empty
          // subscript (INTEGER[]) or a digits-only size in a cast context
          // (CAST(x AS INTEGER[3]) / x::INTEGER[3]); a COLUMN genuinely
          // named 'date'/'json'/'text'… subscripted as date[1] must still
          // rewrite — passing it through to Spark's 0-based [] is the
          // exact silent off-by-one this rewrite exists to prevent (r8)
          lazy val castContext = {
            var q = baseStart - 1
            while (q >= 0 && s.charAt(q).isWhitespace) q -= 1
            if (q >= 1 && s.charAt(q) == ':' && s.charAt(q - 1) == ':') true
            else {
              val e = q
              while (q >= 0 && identChar(s.charAt(q))) q -= 1
              q < e && s.substring(q + 1, e + 1).equalsIgnoreCase("as")
            }
          }
          val typeDecl = content.trim.isEmpty ||
            (TypeWords.contains(baseWord) &&
              content.trim.forall(_.isDigit) && castContext)
          if (typeDecl) {
            i = close + 1 // array TYPE decl — unchanged
          } else if (topColon) {
            // DuckDB slice x[a:b] / x[a:b:step] (1-based, both bounds
            // inclusive, end-relative negatives, clamped — measured r18
            // slice differential). Open bounds are SYNTAX, so they pin
            // literal flags on the native twin instead of conflating
            // with a runtime NULL bound (which answers NULL).
            val cIdx = topColonIdx - (i + 1)
            // second top-level colon (step slice) — ':'-pair aware so a
            // '::' cast inside a bound never splits
            val c2Idx = {
              var j = topColonIdx + 1; var d = 0; var idx = -1
              while (j < close && idx < 0) {
                if (!lit(j)) s.charAt(j) match {
                  case '[' | '(' => d += 1
                  case ']' | ')' => d -= 1
                  case ':' if d == 0 &&
                      (j + 1 >= close || s.charAt(j + 1) != ':') &&
                      s.charAt(j - 1) != ':' => idx = j
                  case _ =>
                }
                j += 1
              }
              idx
            }
            val lo = content.substring(0, cIdx).trim
            val (hi, step) =
              if (c2Idx < 0) (content.substring(cIdx + 1).trim, "")
              else (s.substring(topColonIdx + 1, c2Idx).trim,
                s.substring(c2Idx + 1, close).trim)
            val rep =
              if (lo.isEmpty && hi.isEmpty && step.isEmpty) base
              else {
                val loArg =
                  if (lo.isEmpty) "CAST(0 AS BIGINT)" else s"CAST($lo AS BIGINT)"
                val hiArg =
                  if (hi.isEmpty) "CAST(0 AS BIGINT)" else s"CAST($hi AS BIGINT)"
                val stArg =
                  if (step.isEmpty) "CAST(1 AS BIGINT)" else s"CAST($step AS BIGINT)"
                s"__graft_slice($base, $loArg, $hiArg, $stArg, " +
                  s"${lo.isEmpty}, ${hi.isEmpty}, ${step.nonEmpty})"
              }
            return rewriteBrackets(
              s.substring(0, baseStart) + rep + s.substring(close + 1))
          } else {
            val out = s.substring(0, baseStart) +
              s"__graft_subscript($base, $content)" + s.substring(close + 1)
            return rewriteBrackets(out)
          }
        } else if (prev == '\'') {
          i = close + 1 // string subscript — unsupported, leave loud
        } else if (!topColon) { // bare list literal or comprehension
          // `ARRAY[1,2]` / `ARRAY [1,2]`: the keyword is part of the
          // constructor — drop it, else the splice produces the broken
          // token `ARRAYarray(1, 2)` (r8 advice)
          val litStart =
            if (subscriptish && baseStart >= 0 && baseWord == "array") baseStart
            else i
          // DuckDB list comprehension `[expr FOR x IN xs [IF cond]]` ->
          // Spark higher-order functions: transform(xs, x -> expr) /
          // transform(filter(xs, x -> cond), x -> expr). Keywords are
          // matched top-level only (paren/bracket/literal-aware), so a
          // nested comprehension in the source list resolves on the
          // recursive pass.
          val forIdx = firstTopLevelKeyword(content, Set("FOR"))
          val rep =
            if (forIdx < 0) s"array($content)"
            else {
              val expr = content.substring(0, forIdx).trim
              val rest = content.substring(forIdx + 3).trim
              val inIdx = firstTopLevelKeyword(rest, Set("IN"))
              require(inIdx >= 0, s"cannot parse list comprehension: [$content]")
              val varName = rest.substring(0, inIdx).trim
              val after = rest.substring(inIdx + 2).trim
              // `if(` is the conditional FUNCTION, not a comprehension filter
              val ifIdx = {
                val k0 = firstTopLevelKeyword(after, Set("IF"))
                if (k0 < 0) -1
                else {
                  var k = k0 + 2
                  while (k < after.length && after.charAt(k).isWhitespace) k += 1
                  if (k < after.length && after.charAt(k) == '(') -1 else k0
                }
              }
              if (ifIdx < 0) s"transform($after, $varName -> $expr)"
              else {
                val listExpr = after.substring(0, ifIdx).trim
                val cond = after.substring(ifIdx + 2).trim
                s"transform(filter($listExpr, $varName -> $cond), $varName -> $expr)"
              }
            }
          val out = s.substring(0, litStart) + rep + s.substring(close + 1)
          return rewriteBrackets(out)
        } else i = close + 1
      } else i += 1
    }
    s
  }

  // ------------------------------- DuckDB function-call shape rewrites

  /** end index (exclusive) of the primary expression starting at or after
    * `from` (skips leading whitespace and unary +/-): number or identifier
    * chain with `.`-qualified parts, a trailing call `(...)`, and any
    * `[...]` subscripts; or a parenthesized group. -1 if none parses.
    * The forward twin of [[primaryStart]].
    */
  private def primaryEnd(s: String, from: Int): Int = {
    var i = from
    val n = s.length
    while (i < n && s.charAt(i).isWhitespace) i += 1
    while (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    if (i >= n) return -1
    if (s.charAt(i) == '(') {
      val close = matchingParen(s, i)
      if (close < 0) return -1
      i = close + 1
    } else if (identChar(s.charAt(i))) {
      var go = true
      while (go) {
        while (i < n && identChar(s.charAt(i))) i += 1
        // decimal / qualified continuation: `1.5`, `t.c`
        if (i + 1 < n && s.charAt(i) == '.' && identChar(s.charAt(i + 1))) i += 1
        else go = false
      }
      if (i < n && s.charAt(i) == '(') { // call
        val close = matchingParen(s, i)
        if (close < 0) return -1
        i = close + 1
      }
    } else return -1
    // trailing subscripts: a[1], f(x)[2]
    var more = true
    while (more && i < n && s.charAt(i) == '[') {
      val close = matchingBracket(s, i, literalMask(s))
      if (close < 0) more = false else i = close + 1
    }
    i
  }

  /** extend an operand's left edge (r12 review fixes): through a
    * subscripted base (`xs[1]`), `::TYPE` cast chains (`a::DOUBLE`),
    * and — when `multChain` (for `//`, which sits at multiplicative
    * precedence) — back over `*` `/` `%` `**` `^` chains so
    * `5 * 7 // 2` extracts `(5 * 7, 2)` like DuckDB's left-associative
    * same-precedence parse, not `5 * fdiv(7, 2)`.
    */
  private def extendOperandLeft(s: String, ls0: Int, lit: Array[Boolean],
      multChain: Boolean): Int = {
    var ls = ls0
    var go = ls > 0
    while (go) {
      go = false
      while (ls > 0 && s.charAt(ls) == '[' &&
             (identChar(s.charAt(ls - 1)) || s.charAt(ls - 1) == ')' ||
              s.charAt(ls - 1) == ']' || s.charAt(ls - 1) == '"')) {
        val prev = primaryStart(s, ls)
        if (prev < 0 || prev >= ls) return ls
        ls = prev
      }
      var k = ls - 1
      while (k >= 0 && s.charAt(k).isWhitespace) k -= 1
      if (k >= 1 && !lit(k) && s.charAt(k) == ':' && s.charAt(k - 1) == ':') {
        val prev = primaryStart(s, k - 1)
        if (prev >= 0 && prev < ls) { ls = prev; go = true }
      } else if (multChain && k >= 0 && !lit(k)) {
        val c = s.charAt(k)
        val opPos =
          if (c == '^' || c == '%') k
          else if (c == '*')
            (if (k > 0 && s.charAt(k - 1) == '*' && !lit(k - 1)) k - 1 else k)
          // a lone '/': an earlier '//' cannot exist (leftmost-first)
          else if (c == '/' && !(k > 0 && s.charAt(k - 1) == '/')) k
          else -1
        if (opPos >= 0) {
          val prev = primaryStart(s, opPos)
          if (prev >= 0 && prev < ls) { ls = prev; go = true }
        }
      }
    }
    ls
  }

  /** extend an operand's right edge: through `::TYPE[(args)][[]]` cast
    * suffixes and — when `powerChain` (for `//`) — over the
    * tighter-binding `**`/`^` so `100 // 3 ** 2` extracts
    * `(100, 3 ** 2)` (measured: 11.11…, `**` binds above `//`).
    */
  private def extendOperandRight(s: String, re0: Int, lit: Array[Boolean],
      powerChain: Boolean): Int = {
    var re = re0
    var go = true
    while (go) {
      go = false
      var k = re
      while (k < s.length && s.charAt(k).isWhitespace) k += 1
      if (k + 1 < s.length && !lit(k) && s.charAt(k) == ':' &&
          s.charAt(k + 1) == ':') {
        var j = k + 2
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (j < s.length && identChar(s.charAt(j))) {
          while (j < s.length && identChar(s.charAt(j))) j += 1
          if (j < s.length && s.charAt(j) == '(') {
            val c2 = matchingParen(s, j)
            if (c2 < 0) return re
            j = c2 + 1
          }
          while (j + 1 < s.length && s.charAt(j) == '[' && s.charAt(j + 1) == ']')
            j += 2
          re = j; go = true
        }
      } else if (powerChain && k < s.length && !lit(k) &&
                 (s.charAt(k) == '^' ||
                  (s.charAt(k) == '*' && k + 1 < s.length &&
                   s.charAt(k + 1) == '*' && !lit(k + 1)))) {
        val opLen = if (s.charAt(k) == '^') 1 else 2
        val e2 = primaryEnd(s, k + opLen)
        if (e2 > re) { re = e2; go = true }
      }
    }
    re
  }

  /** DuckDB's power operators: `a ** b` and `a ^ b` -> `power(a, b)`.
    * Spark parses `^` as bitwise XOR (2 ^ 3 = 1 where DuckDB gives 8.0) —
    * a silent-wrong-answer trap, so the lake dialect rewrites it; xor
    * stays reachable as the xor() function in both engines. LEFTMOST
    * operator first + full re-scan = left associativity (measured:
    * 2 ^ 3 ^ 2 = 64 in DuckDB, i.e. power(power(2, 3), 2) — the r12
    * review corrected the earlier rightmost-first scan, which built the
    * right-associative 512). Operands extend through `::TYPE` casts and
    * subscripts; one that fails to parse leaves the statement unchanged
    * for the engine's own error.
    */
  private[lake] def rewritePowerOp(s0: String): String = {
    var s = s0
    var go = true
    while (go) {
      val lit = literalMask(s)
      // leftmost `**` or `^` outside literals
      var op = -1
      var opLen = 0
      var i = 0
      while (i < s.length && op < 0) {
        if (!lit(i)) {
          if (s.charAt(i) == '*' && i + 1 < s.length &&
              s.charAt(i + 1) == '*' && !lit(i + 1)) { op = i; opLen = 2 }
          else if (s.charAt(i) == '^') { op = i; opLen = 1 }
        }
        i += 1
      }
      if (op < 0) go = false
      else {
        var ls = primaryStart(s, op)
        if (ls < 0) return s
        ls = extendOperandLeft(s, ls, lit, multChain = false)
        var re = primaryEnd(s, op + opLen)
        if (re < 0) return s
        re = extendOperandRight(s, re, lit, powerChain = false)
        val l = s.substring(ls, op).trim
        val r = s.substring(op + opLen, re).trim
        if (l.isEmpty || r.isEmpty) return s
        s = s.substring(0, ls) + s"power($l, $r)" + s.substring(re)
      }
    }
    s
  }

  /** DuckDB named-window inheritance (measured r17, REMEASURED r18 on
    * DuckDB 1.0.0 — the full model): `OVER (w …)` and `w2 AS (w1 …)`
    * COPY window w's OWN clauses — exactly ONE level deep: a base's own
    * base is ignored (measured: with w1 AS (PARTITION BY p), w2 AS (w1
    * ORDER BY x), `OVER (w2 ROWS …)` orders but never partitions), an
    * unknown or self-referencing head inside a COPIED def is silently
    * dropped, copying a window that has its own frame clause is a loud
    * parser error, and PARTITION BY/ORDER BY present on BOTH sides is a
    * loud "cannot override" error. `OVER (w)` is a COPY (own clauses
    * only) while bare `OVER w` is the full def (base's own + own) —
    * measured distinct. Resolution is LAZY (unused bad defs never
    * error) and scoped PER SELECT: window names are invisible across
    * subquery boundaries and set-operation branches. Spark's parser
    * handles bare `OVER w` + the WINDOW clause natively with the same
    * per-scope visibility, so the rewrite (a) replaces each def body
    * with its one-level-resolved spec, (b) textually inlines every
    * `OVER (name …)` against the def in ITS OWN scope (a name with no
    * def in scope refuses loudly — never cross-scope capture), and
    * (c) drops unused defs that cannot resolve. Single pass over the
    * original string — no fixpoint loop, so circular references cannot
    * hang (r18, ADVICE r17). */
  private def rewriteWindowInherit(q0: String): String = {
    val lm0 = literalMask(q0)
    val winRe = """(?is)\bWINDOW\s+""".r
    val winMs = winRe.findAllMatchIn(q0).filter(mm => !lm0(mm.start)).toList
    if (winMs.isEmpty) return q0

    // ---- scope machinery: subquery parens + set-op branch splits
    val pairStack = new scala.collection.mutable.ArrayBuffer[Int]
    val pairs = new scala.collection.mutable.ArrayBuffer[(Int, Int)]
    val depthAt = new Array[Int](q0.length + 1)
    var dnow = 0
    var k = 0
    while (k < q0.length) {
      depthAt(k) = dnow
      if (!lm0(k)) {
        val c = q0.charAt(k)
        if (c == '(') { pairStack += k; dnow += 1 }
        else if (c == ')') {
          dnow -= 1
          if (pairStack.nonEmpty)
            pairs += ((pairStack.remove(pairStack.length - 1), k))
        }
      }
      k += 1
    }
    depthAt(q0.length) = dnow
    // a paren whose content head is a query keyword opens a new window-
    // name scope; expression parens do NOT (sum(x) OVER (w …) wrapped in
    // arithmetic parens still resolves against its SELECT's clause)
    val subqRe = """(?is)^\s*(SELECT|WITH|VALUES|FROM|TABLE)\b""".r
    val scopes = pairs.filter { case (a, b) =>
      subqRe.findFirstIn(q0.substring(a + 1, b)).isDefined
    }.toVector
    def parenScope(pos: Int): (Int, Int) =
      scopes.filter { case (a, b) => a < pos && pos < b }
        .sortBy { case (a, b) => b - a }
        .headOption.getOrElse((-1, q0.length))
    // set-op keywords at the scope's top paren depth split it into
    // branches — each branch binds its own WINDOW clause (DuckDB binds
    // `SELECT … WINDOW w … UNION ALL SELECT … WINDOW v …` per branch)
    val setopRe = """(?i)\b(UNION|EXCEPT|INTERSECT)\b""".r
    def scopeKey(pos: Int): ((Int, Int), Int) = {
      val s = parenScope(pos)
      val lvl = if (s._1 < 0) 0 else depthAt(s._1) + 1
      val branch = setopRe.findAllMatchIn(q0).count(m =>
        !lm0(m.start) && m.start > s._1 && m.start < s._2 &&
          depthAt(m.start) == lvl && m.start < pos)
      (s, branch)
    }

    val defRe = """(?s)\s*("[^"]+"|[A-Za-z_]\w*)\s+AS\s*\(""".r
    val headRe = """(?s)^("[^"]+"|[A-Za-z_]\w*)(?!\w)\s*(.*)$""".r
    val specKw = Set("partition", "order", "rows", "range", "groups")
    def unq(s: String) = s.stripPrefix("\"").stripSuffix("\"")
      .toLowerCase(java.util.Locale.ROOT)
    // (head, rest) when the spec begins with an identifier that is not a
    // spec keyword — i.e. a window-name base reference
    def headOf(raw: String): Option[(String, String)] =
      headRe.findFirstMatchIn(raw).flatMap { hm =>
        val h = unq(hm.group(1))
        if (specKw(h)) None else Some((h, hm.group(2).trim))
      }

    final case class WDef(name: String, declStart: Int, specStart: Int,
                          specEnd: Int, raw: String)
    final case class WClause(winStart: Int, key: ((Int, Int), Int),
                             defs: Vector[WDef])
    val clauses = scala.collection.mutable.ArrayBuffer[WClause]()
    winMs.foreach { m =>
      val defs = Vector.newBuilder[WDef]
      var i = m.end
      var go = true
      var bad = false
      var count = 0
      while (go) {
        defRe.findPrefixMatchOf(q0.substring(i)) match {
          case Some(dm) =>
            val declStart = i
            val open = i + dm.end - 1
            val close = scala.util.Try(matchingParen(q0, open)).getOrElse(-1)
            if (close < 0) { bad = true; go = false }
            else {
              defs += WDef(unq(dm.group(1)), declStart, open + 1, close,
                q0.substring(open + 1, close).trim)
              count += 1
              i = close + 1
              while (i < q0.length && q0.charAt(i).isWhitespace) i += 1
              if (i < q0.length && q0.charAt(i) == ',') i += 1 else go = false
            }
          case None =>
            // zero defs: this WINDOW token is not a clause (alias etc.)
            go = false
        }
      }
      if (bad && count > 0) return q0 // malformed list: let the engine error
      val ds = defs.result()
      if (ds.nonEmpty) {
        val names = ds.map(_.name)
        if (names.distinct.lengthIs != names.length) {
          val dup = names.diff(names.distinct).head
          throw new IllegalArgumentException(
            s"""graft: window "$dup" is already defined (DuckDB parser error)""")
        }
        clauses += WClause(m.start, scopeKey(m.start), ds)
      }
    }
    if (clauses.isEmpty) return q0
    clauses.groupBy(_.key).foreach { case (_, cs) =>
      if (cs.lengthIs > 1) throw new IllegalArgumentException(
        "graft: multiple WINDOW clauses bind to the same scope — " +
        "parenthesize each set-operation branch")
    }
    // DuckDB's dup check spans set-op branches (measured: the same name
    // in two branches of one UNION is "already defined", while the same
    // name in a subquery and its outer query is fine)
    clauses.groupBy(_.key._1).foreach { case (_, cs) =>
      val all = cs.flatMap(_.defs.map(_.name))
      if (all.distinct.lengthIs != all.length) {
        val dup = all.diff(all.distinct).head
        throw new IllegalArgumentException(
          s"""graft: window "$dup" is already defined (DuckDB parser error)""")
      }
    }
    val byKey = clauses.map(c => c.key -> c).toMap

    // ---- usage scan
    val overExtRe = """(?is)\bOVER\s*\(""".r
    val overBareRe = """(?is)\bOVER\s+("[^"]+"|[A-Za-z_]\w*)""".r
    val bareUses = scala.collection.mutable
      .Map[(((Int, Int), Int), String), Vector[(Int, Int)]]()
    overBareRe.findAllMatchIn(q0).foreach { om =>
      if (!lm0(om.start)) {
        val k2 = (scopeKey(om.start), unq(om.group(1)))
        bareUses(k2) = bareUses.getOrElse(k2, Vector.empty) :+
          ((om.start, om.end))
      }
    }

    val edits = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()
    def fail(e: String): Nothing = throw new IllegalArgumentException(e)

    // OVER ( name … ) copies: inline own(name) merged with the tail,
    // against the def in the OVER's own scope only
    overExtRe.findAllMatchIn(q0).foreach { om =>
      if (!lm0(om.start)) {
        val open = om.end - 1
        val close = scala.util.Try(matchingParen(q0, open)).getOrElse(-1)
        if (close > open) {
          val body = q0.substring(open + 1, close).trim
          headOf(body).foreach { case (h, tail) =>
            byKey.get(scopeKey(om.start)).flatMap(
              _.defs.find(_.name == h)) match {
              case Some(d) =>
                val own = headOf(d.raw).map(_._2).getOrElse(d.raw)
                mergeWindowSpec(h, own, tail)
                  .fold(fail, sp => edits += ((open + 1, close, sp)))
              case None =>
                // defined in ANOTHER scope or nowhere: DuckDB refuses
                fail(s"""graft: window "$h" does not exist (DuckDB parser error)""")
            }
          }
        }
      }
    }

    // def bodies: bare `OVER name` resolves base's-own + own — rewrite
    // the body so Spark's native WINDOW clause carries the final spec
    clauses.foreach { c =>
      val byName = c.defs.map(d => d.name -> d).toMap
      def resolveBare(d: WDef): Either[String, String] =
        headOf(d.raw) match {
          case None => Right(d.raw)
          case Some((h, rest)) if h == d.name =>
            Right(rest) // self-copy is an identity no-op (measured)
          case Some((h, rest)) =>
            byName.get(h) match {
              case None =>
                Left(s"""graft: window "$h" does not exist (DuckDB parser error)""")
              case Some(base) =>
                val own = headOf(base.raw).map(_._2).getOrElse(base.raw)
                mergeWindowSpec(h, own, rest)
            }
        }
      val resolved = c.defs.map(d => d -> resolveBare(d))
      // Spark's WINDOW clause cannot carry a frame-EXCLUDE modifier:
      // inline each such def's bare uses as OVER (spec) — the downstream
      // EXCLUDE rewriter scans OVER bodies — and drop the def itself
      val excludeRe =
        """(?is)\bEXCLUDE\s+(CURRENT\s+ROW|NO\s+OTHERS|GROUP|TIES)\s*$""".r
      val excludeDefs = resolved.collect {
        case (d, Right(sp)) if excludeRe.findFirstIn(sp).isDefined => d
      }.toSet
      resolved.foreach {
        case (d, Right(sp)) if excludeDefs(d) =>
          bareUses.getOrElse((c.key, d.name), Vector.empty).foreach {
            case (a, b) => edits += ((a, b, s"OVER ($sp)"))
          }
        case _ =>
      }
      val dropped = resolved.collect {
        case (d, Left(err)) =>
          if (bareUses.contains((c.key, d.name))) fail(err)
          d // unused + unresolvable: DuckDB never binds it — drop
      }.toSet ++ excludeDefs
      if (dropped.size == c.defs.size) {
        // whole clause vanishes (keyword through last close paren)
        edits += ((c.winStart, c.defs.last.specEnd + 1, ""))
      } else {
        resolved.foreach {
          case (d, Right(sp)) if sp != d.raw && !dropped(d) =>
            edits += ((d.specStart, d.specEnd, sp))
          case _ =>
        }
        // drop spans: a non-last def takes its trailing comma, the last
        // def takes the comma after its predecessor
        c.defs.zipWithIndex.foreach { case (d, ix) =>
          if (dropped(d)) {
            if (ix < c.defs.length - 1)
              edits += ((d.declStart, c.defs(ix + 1).declStart, " "))
            else
              edits += ((c.defs(ix - 1).specEnd + 1, d.specEnd + 1, ""))
          }
        }
      }
    }
    if (edits.isEmpty) return q0
    val ordered = edits.sortBy(-_._1)
    var q = q0
    var lastStart = q0.length + 1
    ordered.foreach { case (a, b, r) =>
      if (b <= lastStart) { // skip overlaps defensively (cannot happen)
        q = q.substring(0, a) + r + q.substring(b)
        lastStart = a
      }
    }
    q
  }

  /** split a window-spec body (no base name) into its top-level
    * (PARTITION BY …, ORDER BY …, frame …) segments; text before the
    * first marker rides with the partition slot so nothing is lost */
  private def splitWindowSpec(spec: String): (String, String, String) = {
    val lm = literalMask(spec)
    val up = spec.toUpperCase(java.util.Locale.ROOT)
    def wordAt(p: Int, w: String): Boolean =
      up.startsWith(w, p) &&
        (p == 0 || { val ch = up.charAt(p - 1)
          !Character.isLetterOrDigit(ch) && ch != '_' }) &&
        (p + w.length >= up.length || { val ch = up.charAt(p + w.length)
          !Character.isLetterOrDigit(ch) && ch != '_' })
    var depth = 0
    var pPos = -1; var oPos = -1; var fPos = -1
    var i = 0
    while (i < spec.length) {
      if (!lm(i)) {
        val c = spec.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (depth == 0) {
          if (pPos < 0 && oPos < 0 && fPos < 0 && wordAt(i, "PARTITION")) pPos = i
          else if (oPos < 0 && fPos < 0 && wordAt(i, "ORDER")) oPos = i
          else if (fPos < 0 && (wordAt(i, "ROWS") || wordAt(i, "RANGE") ||
                                wordAt(i, "GROUPS"))) fPos = i
        }
      }
      i += 1
    }
    val oStart = if (oPos >= 0) oPos else if (fPos >= 0) fPos else spec.length
    val fStart = if (fPos >= 0) fPos else spec.length
    val p = if (pPos >= 0) spec.substring(0, oStart).trim
            else spec.substring(0, math.min(oStart, spec.length)).trim
    val o = if (oPos >= 0) spec.substring(oPos, fStart).trim else ""
    val f = if (fPos >= 0) spec.substring(fPos).trim else ""
    (p, o, f)
  }

  /** one-level window copy (measured DuckDB 1.0.0): the base contributes
    * its OWN PARTITION BY/ORDER BY; a base frame refuses, a clause
    * present on both sides refuses ("cannot override") */
  private def mergeWindowSpec(baseName: String, baseOwn: String,
                              child: String): Either[String, String] = {
    val (bp, bo, bf) = splitWindowSpec(baseOwn)
    if (bf.nonEmpty)
      return Left(s"""graft: cannot copy window "$baseName" because it has a frame clause (DuckDB parser error)""")
    val (cp, co, cf) = splitWindowSpec(child)
    if (bp.nonEmpty && cp.nonEmpty)
      return Left(s"""graft: cannot override PARTITION BY clause of window "$baseName" (DuckDB parser error)""")
    if (bo.nonEmpty && co.nonEmpty)
      return Left(s"""graft: cannot override ORDER BY clause of window "$baseName" (DuckDB parser error)""")
    Right(Seq(if (cp.nonEmpty) cp else bp,
              if (co.nonEmpty) co else bo, cf)
      .filter(_.nonEmpty).mkString(" "))
  }

  /** ANSI `FETCH {FIRST|NEXT} [n] {ROW|ROWS} ONLY` is DuckDB's spelled-
    * out LIMIT (measured r17: `ORDER BY 1 FETCH FIRST 2 ROWS ONLY`
    * answers 2 rows); Spark's parser refuses it, so it rewrites to the
    * LIMIT twin. ANSI `OFFSET n ROWS` likewise drops the ROWS noise
    * word. Outside-string-literals only. */
  private def rewriteFetchFirst(q0: String): String = {
    var q = q0
    val fetchRe =
      """(?i)\bFETCH\s+(?:FIRST|NEXT)\s+(\d+\s+)?ROWS?\s+ONLY\b""".r
    val lm0 = literalMask(q)
    q = fetchRe.replaceSomeIn(q, m =>
      if (lm0(m.start)) None
      else Some("LIMIT " + Option(m.group(1)).map(_.trim).getOrElse("1")))
    val offRe = """(?i)\b(OFFSET\s+\d+)\s+ROWS?\b""".r
    val lm1 = literalMask(q)
    offRe.replaceSomeIn(q, m => if (lm1(m.start)) None else Some(m.group(1)))
  }

  /** DuckDB binds a WITH list as a SET — a CTE body may reference a CTE
    * defined LATER (measured r17: `WITH u AS (SELECT x FROM t), t(x) AS
    * (SELECT 7) SELECT y FROM u` answers 7). Spark binds strictly
    * left-to-right, so the definitions reorder by dependency (stable
    * Kahn topo sort; RECURSIVE and cyclic lists stay untouched — Spark
    * errors loudly there, like DuckDB on a true cycle). Top-level WITH
    * only; a nested WITH re-enters the pipeline as its own select. */
  private[graft] def reorderForwardCtes(q0: String): String = {
    val head = """(?is)^\s*WITH\s+(RECURSIVE\s+)?""".r
    val m = head.findFirstMatchIn(q0).getOrElse(return q0)
    if (m.group(1) != null) return q0
    var i = m.end
    val defRe = """(?s)\s*("[^"]+"|[A-Za-z_]\w*)\s*(\([^)]*\))?\s+AS\s*\(""".r
    case class CteDef(name: String, header: String, body: String)
    val defs = scala.collection.mutable.ArrayBuffer[CteDef]()
    var go = true
    while (go) {
      defRe.findPrefixMatchOf(q0.substring(i)) match {
        case Some(dm) =>
          val open = i + dm.end - 1
          val close = matchingParen(q0, open)
          if (close < 0) return q0 // unparseable — leave untouched
          val name = dm.group(1).stripPrefix("\"").stripSuffix("\"")
          val header = dm.group(1) + Option(dm.group(2)).map(" " + _).getOrElse("")
          defs += CteDef(name, header, q0.substring(open + 1, close))
          i = close + 1
          while (i < q0.length && q0.charAt(i).isWhitespace) i += 1
          if (i < q0.length && q0.charAt(i) == ',') i += 1 else go = false
        case None => return q0
      }
    }
    if (defs.lengthIs < 2) return q0
    val rest = q0.substring(i)
    val names = defs.map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet
    def depsOf(d: CteDef): Set[String] =
      names.filter(n => n != d.name.toLowerCase(java.util.Locale.ROOT) &&
        ("""(?i)\b""" + java.util.regex.Pattern.quote(n) + """\b""").r
          .findFirstIn(d.body).isDefined)
    val remaining = scala.collection.mutable.ArrayBuffer(defs.toSeq: _*)
    val ordered = scala.collection.mutable.ArrayBuffer[CteDef]()
    val emitted = scala.collection.mutable.Set[String]()
    var progress = true
    while (remaining.nonEmpty && progress) {
      remaining.zipWithIndex.find { case (d, _) =>
        depsOf(d).forall(emitted.contains)
      } match {
        case Some((d, idx)) =>
          remaining.remove(idx); ordered += d
          emitted += d.name.toLowerCase(java.util.Locale.ROOT)
        case None => progress = false // cycle — leave the tail as-is
      }
    }
    ordered ++= remaining
    if (ordered.map(_.name) == defs.map(_.name)) q0
    else "WITH " + ordered.map(d => s"${d.header} AS (${d.body})")
      .mkString(", ") + " " + rest
  }

  /** DuckDB percent limit `… LIMIT 30%` (r12): detect a TOP-LEVEL
    * trailing percent limit and return (inner query, percent). Measured
    * row count: floor(n * pct / 100) — LIMIT 33% of 3 rows is 0 rows,
    * 50% of 3 is 1. The caller runs the inner query, counts, and applies
    * a plain limit (two passes — the total is not knowable without one,
    * exactly as DuckDB's own percent limit materializes a count).
    * Nested percent limits (inside subqueries) stay loud.
    */
  private val PercentLimitRe =
    """(?is)^(.*\S)\s+LIMIT\s+(\d+(?:\.\d+)?)\s*%\s*;?\s*$""".r
  def stripPercentLimit(q: String): Option[(String, Double)] =
    PercentLimitRe.findFirstMatchIn(q).flatMap { m =>
      val limitPos = q.toLowerCase(java.util.Locale.ROOT).lastIndexOf("limit")
      if (limitPos < 0) None
      else {
        val lit = literalMask(q)
        var depth = 0
        var i = 0
        while (i < limitPos) {
          if (!lit(i)) {
            val ch = q.charAt(i)
            if (ch == '(') depth += 1 else if (ch == ')') depth -= 1
          }
          i += 1
        }
        if (depth == 0 && !lit(limitPos)) Some((m.group(1), m.group(2).toDouble))
        else None
      }
    }

  /** DuckDB `a // b` -> `__graft_fdiv(a, b)` (functions/ScalarWave
    * FloorDiv: trunc-toward-zero integer division for integral operands,
    * PLAIN division for floating operands — DuckDB does not floor
    * doubles — NULL on zero divisor; all measured). `//` sits at
    * multiplicative precedence, left-associative: the scan is
    * LEFTMOST-first (100 // 7 // 2 = 7, not 33), the LEFT operand
    * extends back over the whole `*` `/` `%` `**` `^` chain
    * (5 * 7 // 2 = 17) and `::` casts, and the RIGHT operand extends
    * over the tighter-binding power operators (100 // 3 ** 2) and
    * casts — all DuckDB-measured (r12 review fix).
    */
  private[lake] def rewriteFloorDivOp(s0: String): String =
    rewriteMulPrecOp(s0, "//", "__graft_fdiv")

  /** DuckDB `/` (measured): ALWAYS DOUBLE — `6 / 3` is DOUBLE 2.0,
    * `1 / 2.6` is full-precision 0.3846153846153846 where Spark's
    * DECIMAL division truncates at scale 6 (the r12 differential
    * barrage caught that silent loss) — and NULL on a zero divisor
    * (Spark doubles give Infinity; ANSI mode errors). Runs AFTER the
    * `//` rewrite, so every remaining slash is plain division.
    */
  private[lake] def rewriteDivOp(s0: String): String =
    rewriteMulPrecOp(s0, "/", "__graft_div")

  /** shared leftmost-first multiplicative-precedence infix extraction
    * (see rewriteFloorDivOp's scaladoc for the measured binding rules)
    */
  private def rewriteMulPrecOp(s0: String, opStr: String, target: String): String = {
    var s = s0
    var go = true
    while (go) {
      val lit = literalMask(s)
      var op = -1
      var i = 0
      while (i <= s.length - opStr.length && op < 0) {
        if (!lit(i) && s.startsWith(opStr, i) &&
            (opStr != "/" || ((i == 0 || s.charAt(i - 1) != '/') &&
              (i + 1 >= s.length || s.charAt(i + 1) != '/')))) op = i
        i += 1
      }
      if (op < 0) go = false
      else {
        var ls = primaryStart(s, op)
        if (ls < 0) return s
        ls = extendOperandLeft(s, ls, lit, multChain = true)
        var re = primaryEnd(s, op + opStr.length)
        if (re < 0) return s
        re = extendOperandRight(s, re, lit, powerChain = true)
        val l = s.substring(ls, op).trim
        val r = s.substring(op + opStr.length, re).trim
        if (l.isEmpty || r.isEmpty) return s
        s = s.substring(0, ls) + s"$target($l, $r)" + s.substring(re)
      }
    }
    s
  }

  /** rewrite each top-level call of `name`: `f(args)` returning None
    * leaves that call unchanged (and scanning continues past it)
    */
  private def rewriteCalls(s0: String, name: String)(f: Seq[String] => Option[String]): String = {
    val re = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\s*\\(").r
    var s = s0
    var lit = literalMask(s)
    var from = 0
    var go = true
    while (go) {
      re.findFirstMatchIn(s.substring(from)) match {
        case None => go = false
        case Some(m) =>
          val start = from + m.start
          val open = from + m.end - 1
          if (lit(start)) from = start + 1
          else {
            val close = matchingParen(s, open, lit)
            // a top-level trailing comma in call args is a DuckDB parser
            // error (r15 — `greatest(1,2,)`): leave the call un-rewritten
            // so Spark's parser refuses it just as loudly, instead of
            // letting splitTopCommas silently swallow the empty argument
            if (trailingTopComma(s.substring(open + 1, close))) from = open + 1
            else f(splitTopCommas(s.substring(open + 1, close))) match {
              case Some(rep) =>
                s = s.substring(0, start) + rep + s.substring(close + 1)
                lit = literalMask(s)
                // re-scan FROM the replacement so calls nested inside the
                // rewritten arguments are still visited (r8 advice:
                // date_diff('day', a, date_diff('day', b, c)) must rewrite
                // both). When the replacement's own head re-matches the
                // regex (trim -> TRIM(BOTH … FROM …), sum -> sum(…)),
                // advance ONE char — past the head's word boundary, so the
                // emitted head cannot loop — instead of past the whole
                // replacement, which skipped same-named calls nested in
                // the rewritten arguments (r12 review: trim(trim(s,'x'),
                // 'a') left the inner 2-arg trim unrewritten)
                from =
                  if (re.findPrefixMatchOf(rep).isDefined) start + 1
                  else start
              case None => from = open + 1
            }
          }
      }
    }
    s
  }

  /** true iff `name(` appears as a real call outside string literals */
  def hasCall(q: String, name: String): Boolean = {
    var found = false
    rewriteCalls(q, name) { _ => found = true; None }
    found
  }

  /** true iff the SELECT body has a top-level FROM (subquery FROMs sit
    * inside parens and don't count) — the per-row-semantics detector for
    * sequence draws
    */
  def selectHasTopLevelFrom(q: String): Boolean =
    splitTopLevelKeyword(q, "FROM")._2.isDefined

  /** substitute each `nextval('s')` / `currval('s')` occurrence with the
    * value the callbacks return — left to right, one draw per textual
    * occurrence (the caller enforces where this is semantically sound)
    */
  def rewriteSequenceCalls(q0: String)(
      next: String => Long, curr: String => Long): String = {
    // emit typed literals: DuckDB sequences are BIGINT-valued, and a bare
    // small number would parse as INT (schema mismatch against the twin)
    val q = rewriteCalls(q0, "nextval") {
      case Seq(a) => quotedLiteral(a.trim).map(n => s"CAST(${next(n)} AS BIGINT)")
      case _ => None
    }
    rewriteCurrvalCalls(q)(curr)
  }

  /** bind EXECUTE arguments into a prepared body: `$N` (1-based) and
    * positional `?` placeholders substitute the raw argument texts,
    * outside string literals only */
  def bindPrepared(sql: String, args: Seq[String]): String = {
    val lit = literalMask(sql)
    val out = new StringBuilder(sql.length + 16)
    var i = 0
    var next = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (lit(i)) { out.append(c); i += 1 }
      else c match {
        case '$' if i + 1 < sql.length && sql.charAt(i + 1).isDigit =>
          var j = i + 1
          while (j < sql.length && sql.charAt(j).isDigit) j += 1
          val n = sql.substring(i + 1, j).toInt
          require(n >= 1 && n <= args.length,
            s"prepared parameter $$$n not bound (${args.length} given)")
          out.append(args(n - 1))
          i = j
        case '?' =>
          require(next < args.length,
            s"not enough EXECUTE arguments for the '?' placeholders")
          out.append(args(next)); next += 1; i += 1
        case ch => out.append(ch); i += 1
      }
    }
    out.toString
  }

  /** `getvariable('x')` -> the stored literal (NULL for unset, DuckDB's
    * behavior); the caller supplies the rendered-literal lookup */
  def rewriteGetVariable(q: String)(lookup: String => Option[String]): String =
    rewriteCalls(q, "getvariable") {
      case Seq(a) => quotedLiteral(a.trim)
        .map(n => lookup(n).getOrElse("CAST(NULL AS STRING)"))
      case _ => None
    }

  /** DuckDB JSON accessors — Spark's twin is `get_json_object(j, '$.p')`:
    *  - `json_extract_string` / `json_value` / `->>` return the unquoted
    *    leaf, exactly get_json_object's behavior;
    *  - `json_extract` / `->` return JSON — identical through
    *    get_json_object for objects/arrays/numbers; a STRING leaf loses
    *    its quotes (DuckDB renders `"v"`). The common shapes (extract
    *    then cast, chain then leaf) are exact; documented divergence
    *    for bare string-leaf `->`/json_extract.
    *  - 2-arg `json_array_length(j, path)` composes through
    *    get_json_object (the 1-arg name exists in Spark as-is).
    * Paths (r13, measured): '$.a.b' JSONPath, '/a/b' JSON Pointer, and
    * a bare string is a SINGLE top-level key — the path grammar lives in
    * the native [[graft.functions.DuckJsonPath]]; this rewrite only
    * routes the spellings there.
    */
  private def rewriteJsonFns(q0: String): String = {
    def ext(unq: Boolean)(args: Seq[String]): Option[String] =
      if (args.length != 2) None
      else Some(s"__graft_json_extract${if (unq) "_str" else ""}" +
        s"(${args(0).trim}, ${args(1).trim})")
    var q = rewriteCalls(q0, "json_extract_string")(ext(unq = true))
    q = rewriteCalls(q, "json_value")(ext(unq = true))
    q = rewriteCalls(q, "json_extract")(ext(unq = false))
    q = rewriteCalls(q, "json_valid") {
      case Seq(a) => Some(s"__graft_json_valid(${a.trim})")
      case _ => None
    }
    rewriteCalls(q, "json_array_length") { args =>
      if (args.length == 1)
        Some(s"__graft_json_array_length(${args(0).trim}, '$$')")
      else if (args.length == 2)
        Some(s"__graft_json_array_length(${args(0).trim}, ${args(1).trim})")
      else None
    }
  }

  /** higher-order functions whose second argument is a lambda — a bare
    * `x -> 'c'` inside these is a constant lambda, not a JSON access */
  private val LambdaHofs = Set(
    "transform", "filter", "aggregate", "reduce", "exists", "forall",
    "zip_with", "map_filter", "map_zip_with", "transform_keys",
    "transform_values", "list_transform", "list_filter", "array_sort")

  /** `j -> 'k'`, `j ->> 'k'`, `j -> 0` — DuckDB's JSON arrow operators.
    * The LHS primary (identifier chain, function call, or parenthesized
    * expression) is wrapped into get_json_object; chains nest through
    * left-to-right rescan. `->` with a bare-identifier LHS directly
    * inside a known lambda-taking HOF is left alone (that's a lambda).
    */
  private def rewriteJsonArrows(q0: String): String = {
    val ArrowRe = """(->>|->)\s*(?:'([^']*)'|(-?\d+))""".r
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      ArrowRe.findFirstMatchIn(q.substring(from)) match {
        case None => go = false
        case Some(m) =>
          val start = from + m.start
          if (lit(start)) { from = start + 1 }
          else {
            // find the LHS primary: walk left over whitespace, then either
            // a )-terminated call/paren group (reverse-matched) plus any
            // leading identifier, or an identifier chain a.b."c"
            var i = start - 1
            while (i >= 0 && q.charAt(i).isWhitespace) i -= 1
            val lhsEnd = i
            var ok = i >= 0
            if (ok && q.charAt(i) == '\'' && lit(i)) {
              // string-literal LHS: `'{"a": 1}' -> 'a'` (r13) — walk the
              // whole literal (mask covers the quotes and '' escapes)
              while (i >= 0 && lit(i)) i -= 1
            } else if (ok && q.charAt(i) == ')') {
              var depth = 0
              var done = false
              while (i >= 0 && !done) {
                if (!lit(i)) {
                  if (q.charAt(i) == ')') depth += 1
                  else if (q.charAt(i) == '(') { depth -= 1; if (depth == 0) done = true }
                }
                if (!done) i -= 1
              }
              ok = done
              i -= 1
              while (ok && i >= 0 &&
                (q.charAt(i).isLetterOrDigit || "_.\"".contains(q.charAt(i)))) i -= 1
            } else if (ok) {
              val idEnd = i
              while (i >= 0 &&
                (q.charAt(i).isLetterOrDigit || "_.\"".contains(q.charAt(i)))) i -= 1
              ok = idEnd > i
            }
            // `'…'::STRING ->> 'a'` — the ::TYPE pass ran before this
            // one, so a cast chain may sit under the arrow: keep walking
            // left across `::` to the cast base (literal or identifier)
            while (ok && i >= 1 && q.charAt(i) == ':' && q.charAt(i - 1) == ':') {
              i -= 2
              while (i >= 0 && q.charAt(i).isWhitespace) i -= 1
              if (i >= 0 && q.charAt(i) == '\'' && lit(i)) {
                while (i >= 0 && lit(i)) i -= 1
              } else {
                val idEnd = i
                while (i >= 0 &&
                  (q.charAt(i).isLetterOrDigit || "_.\"".contains(q.charAt(i)))) i -= 1
                ok = idEnd > i
              }
            }
            val lhsStart = i + 1
            val lhs = q.substring(lhsStart, lhsEnd + 1)
            // lambda guards: plain `->` with (a) a parenthesized
            // bare-identifier tuple LHS — `(x, y) -> …` is ALWAYS a
            // lambda (review-found: zip_with's tuple params were being
            // rewritten) — or (b) a bare identifier LHS inside a HOF call
            val isTupleParams = m.group(1) == "->" &&
              """^\(\s*\w+\s*(,\s*\w+\s*)*\)$""".r.matches(lhs.trim)
            val isBareId = lhs.nonEmpty && lhs.forall(c => c.isLetterOrDigit || c == '_')
            val isLambda = isTupleParams || (m.group(1) == "->" && isBareId && {
              var j = lhsStart - 1
              var depth = 0
              var callName = ""
              var done = false
              while (j >= 0 && !done) {
                if (!lit(j)) {
                  val c = q.charAt(j)
                  if (c == ')') depth += 1
                  else if (c == '(') {
                    if (depth == 0) {
                      var k = j - 1
                      while (k >= 0 && !lit(k) && q.charAt(k).isWhitespace) k -= 1
                      val e = k
                      while (k >= 0 && (q.charAt(k).isLetterOrDigit || q.charAt(k) == '_')) k -= 1
                      callName = q.substring(k + 1, e + 1).toLowerCase
                      done = true
                    } else depth -= 1
                  }
                }
                j -= 1
              }
              LambdaHofs.contains(callName)
            })
            if (!ok || lhs.isEmpty || isLambda) from = start + m.group(1).length
            else {
              // `->` keeps JSON text (string leaves stay quoted), `->>`
              // unquotes — native DuckJsonExtract twins both (r13). A
              // quoted key passes through verbatim (single top-level key
              // unless it spells a $/pointer path); an integer subscript
              // becomes `$[i]` (negative measured NULL, handled native).
              val fn = if (m.group(1) == "->>") "__graft_json_extract_str"
                       else "__graft_json_extract"
              val keyLit =
                if (m.group(2) != null) s"'${m.group(2)}'"
                else s"'$$[${m.group(3)}]'"
              val rep = s"$fn($lhs, $keyLit)"
              q = q.substring(0, lhsStart) + rep + q.substring(from + m.end)
              from = lhsStart // rescan: a chained arrow now follows the call
            }
          }
      }
    }
    q
  }

  /** DuckDB's default null ordering is NULLS LAST for ASC (and DESC);
    * Spark's ASC default is NULLS FIRST — a plain `ORDER BY v` over a
    * nullable key SILENTLY reorders (r13 null-semantics barrage,
    * measured: ASC [1, 2, NULL], DESC [2, 1, NULL]). Every ORDER BY
    * key — top-level, subquery, and window OVER(...) — without an
    * explicit NULLS clause gets NULLS LAST appended on the ASC side
    * (DESC already defaults NULLS LAST on both engines).
    */
  private val OrderByRe = """(?i)\bORDER\s+BY\b""".r
  private val OrderKeyEndKws = Set("LIMIT", "OFFSET", "FETCH", "ROWS",
    "RANGE", "GROUPS", "UNION", "EXCEPT", "INTERSECT")
  private def rewriteOrderNulls(q0: String): String = {
    val lit = literalMask(q0)
    val matches = OrderByRe.findAllMatchIn(q0).filter(m => !lit(m.start)).toList
    if (matches.isEmpty) return q0
    val sb = new StringBuilder
    var pos = 0
    for (m <- matches) {
      if (m.start >= pos) {
        sb.append(q0.substring(pos, m.end))
        // scan the key list
        var i = m.end
        var depth = 0
        var keyStart = i
        val out = new StringBuilder
        def flushKey(end: Int): Unit = {
          val key = q0.substring(keyStart, end)
          val t = key.trim
          val up = t.toUpperCase(java.util.Locale.ROOT)
          out.append(
            if (t.isEmpty || up == "ALL" || up == "ALL ASC" ||
                up.matches("(?s).*\\bNULLS\\s+(FIRST|LAST)\\s*$") ||
                up.matches("(?s).*\\bDESC\\s*$")) key
            else {
              // keep trailing whitespace outside the appended clause
              val trailing = key.length - key.reverseIterator.takeWhile(_.isWhitespace).length
              key.substring(0, trailing) + " NULLS LAST" + key.substring(trailing)
            })
        }
        var done = false
        while (i < q0.length && !done) {
          val c = q0.charAt(i)
          if (!lit(i)) c match {
            case '(' | '[' => depth += 1
            case ')' | ']' =>
              if (depth == 0) { done = true } else depth -= 1
            case ',' if depth == 0 =>
              flushKey(i); out.append(','); keyStart = i + 1
            case ch if depth == 0 && ch.isLetter &&
                (i == 0 || (!q0.charAt(i - 1).isLetterOrDigit &&
                            q0.charAt(i - 1) != '_')) =>
              var j = i
              while (j < q0.length && (q0.charAt(j).isLetterOrDigit || q0.charAt(j) == '_')) j += 1
              val word = q0.substring(i, j).toUpperCase(java.util.Locale.ROOT)
              if (OrderKeyEndKws(word)) done = true else i = j - 1
            case _ =>
          }
          if (!done) i += 1
        }
        flushKey(i)
        sb.append(out)
        pos = i
      }
    }
    sb.append(q0.substring(pos))
    sb.toString
  }

  /** quantified ordering comparisons `x > ANY (SELECT …)` — Spark's
    * parser takes `= ANY` / `<> ALL` (IN / NOT IN sugar) but not the
    * ordering quantifiers. The min/max scalar-subquery reduction is
    * only equivalent on non-empty, NULL-free sets; DuckDB's measured
    * three-valued semantics (r14, `ducklakexl.py:394` pass-through):
    * `> ALL (empty)` = TRUE, `> ANY (empty)` = FALSE, a NULL element
    * yields NULL unless a non-NULL element already decides (FALSE for
    * ALL, TRUE for ANY). Emitted as a CASE over three scalar
    * subqueries (count, null-count, extreme) — which needs the LEFT
    * operand captured (quantLhsStart walks identifiers, literals,
    * balanced groups and binary arithmetic). Fixtures incl. empty /
    * NULL-bearing sets in SubqueryDifferentialSpec. (SOME = ANY.)
    */
  // lookbehind keeps `<> ALL` (NOT IN sugar) out of the `>` branch
  private val QuantRe = """(?<![<>!=])(>=|<=|>|<)\s*(?i:(ANY|ALL|SOME))\s*\(""".r
  private val QuantStopKws: Set[String] = Set(
    "SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "END",
    "CASE", "ON", "HAVING", "BETWEEN", "IN", "IS", "LIKE", "ILIKE", "FROM",
    "JOIN", "BY", "SET", "VALUES", "AS", "UNION", "INTERSECT", "EXCEPT",
    "ALL", "ANY", "SOME", "DISTINCT", "LIMIT", "OFFSET", "GROUP", "ORDER")
  private val QuantTypedLitKws: Set[String] =
    Set("DATE", "TIME", "TIMESTAMP", "TIMESTAMPTZ", "INTERVAL")
  /** start index of the (textual) left operand of a comparison whose
    * operator begins at `opStart`: walks left across one or more
    * operands (identifier / dotted / quoted / numeric, string or typed
    * literal, balanced (...)/[...] group with optional call name)
    * joined by binary arithmetic (`+ - * / % || ::`). Stops at
    * keywords, commas, open parens, comparison operators. */
  private def quantLhsStart(q: String, opStart: Int, lit: Array[Boolean]): Int = {
    var i = opStart - 1
    def skipWs(): Unit = { while (i >= 0 && q.charAt(i).isWhitespace) i -= 1 }
    val identCh = (c: Char) => c.isLetterOrDigit || c == '_' || c == '.' || c == '"' || c == '$'
    skipWs()
    var start = opStart
    var expectOperand = true
    var pendingOpStart = -1 // include a trailing unary +/- if operand capture stops
    var done = false
    while (!done && i >= 0) {
      if (expectOperand) {
        val c = q.charAt(i)
        if (c == '\'' && lit(i)) {
          while (i >= 0 && lit(i)) i -= 1
          start = i + 1
          val save = i
          skipWs()
          val idEnd = i
          while (i >= 0 && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_')) i -= 1
          val word =
            if (idEnd > i) q.substring(i + 1, idEnd + 1).toUpperCase(java.util.Locale.ROOT)
            else ""
          if (QuantTypedLitKws(word)) start = i + 1 else i = save
          expectOperand = false
        } else if (c == ')' || c == ']') {
          val openCh = if (c == ')') '(' else '['
          val closeCh = c
          var depth = 0
          var stop = false
          while (i >= 0 && !stop) {
            if (!lit(i)) {
              if (q.charAt(i) == closeCh) depth += 1
              else if (q.charAt(i) == openCh) { depth -= 1; if (depth == 0) stop = true }
            }
            i -= 1
          }
          start = i + 1
          // chained postfix (`a[1]`, `f(x)[2]`) — keep consuming the base
          if (i >= 0 && (q.charAt(i) == ')' || q.charAt(i) == ']')) {
            // loop again in operand mode on the base group
          } else {
            val save = i
            val idEnd = i
            while (i >= 0 && identCh(q.charAt(i))) i -= 1
            val word =
              if (idEnd > i) q.substring(i + 1, idEnd + 1).toUpperCase(java.util.Locale.ROOT)
              else ""
            if (word.nonEmpty && !QuantStopKws(word)) start = i + 1 else i = save
            expectOperand = false
          }
        } else if (identCh(c)) {
          val idEnd = i
          while (i >= 0 && identCh(q.charAt(i))) i -= 1
          val word = q.substring(i + 1, idEnd + 1).toUpperCase(java.util.Locale.ROOT)
          if (QuantStopKws(word)) {
            // keyword where an operand was expected: a consumed +/- was unary
            if (pendingOpStart >= 0) start = pendingOpStart
            done = true
          } else { start = i + 1; expectOperand = false }
        } else {
          if (pendingOpStart >= 0) start = pendingOpStart
          done = true
        }
        if (!done && !expectOperand) { pendingOpStart = -1; skipWs() }
      } else {
        // operator position: binary arithmetic continues the operand chain
        val c = q.charAt(i)
        if (c == '|' && i >= 1 && q.charAt(i - 1) == '|') {
          pendingOpStart = i - 1; i -= 2; expectOperand = true; skipWs()
        } else if (c == ':' && i >= 1 && q.charAt(i - 1) == ':') {
          pendingOpStart = i - 1; i -= 2; expectOperand = true; skipWs()
        } else if (c == '+' || c == '-' || c == '*' || c == '%' ||
                   (c == '/' && (i == 0 || q.charAt(i - 1) != '/'))) {
          pendingOpStart = i; i -= 1; expectOperand = true; skipWs()
        } else done = true
      }
    }
    if (expectOperand && pendingOpStart >= 0) start = pendingOpStart
    start
  }
  private def rewriteQuantifiedOrdering(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      val lit = literalMask(q)
      QuantRe.findAllMatchIn(q).find(m => !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          val open = m.end - 1
          val close = matchingParen(q, open, lit)
          val body = q.substring(open + 1, close).trim
          val op = m.group(1)
          val kind = m.group(2).toUpperCase(java.util.Locale.ROOT)
          val agg =
            if (kind == "ALL") (if (op.startsWith(">")) "max" else "min")
            else (if (op.startsWith(">")) "min" else "max")
          val lhsStart = quantLhsStart(q, m.start, lit)
          val lhs = q.substring(lhsStart, m.start).trim
          require(lhs.nonEmpty,
            s"cannot parse the left operand of a quantified $op $kind comparison in: $q")
          def sub(sel: String) = s"(SELECT $sel FROM ($body) AS __anyall(__qc))"
          // r15 advice: bind the LHS and the extreme comparison ONCE and
          // fold the null-presence arm into three-valued AND/OR, instead
          // of splicing the body 4x and the LHS 2x across CASE arms (an
          // expensive body executed repeatedly; a nondeterministic body
          // or LHS evaluated inconsistently between arms). The three
          // single-aggregate scalar subqueries below are over IDENTICAL
          // body text, which Catalyst's MergeScalarSubqueries folds into
          // one struct-returning subquery for deterministic bodies.
          //   ALL:  empty -> TRUE;  else cmp AND (noNulls ? TRUE : NULL)
          //         (cmp=F -> FALSE even with nulls; cmp=T w/ nulls -> NULL)
          //   ANY:  empty -> FALSE; else cmp OR  (noNulls ? FALSE : NULL)
          //         (cmp=T -> TRUE even with nulls; cmp=F w/ nulls -> NULL)
          val cmp = s"(($lhs) $op ${sub(s"$agg(__qc)")})"
          val empty = s"${sub("count(*)")} = 0"
          val noNulls = s"${sub("count(*) - count(__qc)")} = 0"
          val rep =
            if (kind == "ALL")
              s"(CASE WHEN $empty THEN TRUE ELSE ($cmp AND " +
                s"(CASE WHEN $noNulls THEN TRUE ELSE CAST(NULL AS BOOLEAN) END)) END)"
            else
              s"(CASE WHEN $empty THEN FALSE ELSE ($cmp OR " +
                s"(CASE WHEN $noNulls THEN FALSE ELSE CAST(NULL AS BOOLEAN) END)) END)"
          q = q.substring(0, lhsStart) + rep + q.substring(close + 1)
      }
    }
    q
  }

  /** `TIMESTAMPTZ '…'` / `TIMESTAMP WITH TIME ZONE '…'` typed literals:
    * Spark's TIMESTAMP literal already parses embedded offsets into the
    * UTC-pinned session instant, so the rewrite only needs to keep the
    * tz-ness for the VARCHAR render — `__graft_tstz(TIMESTAMP '…')`
    * (functions/TzTime.TsTzTag, a runtime identity). r13 tz barrage.
    */
  private val TstzLitRe =
    """(?i)\bTIMESTAMP(?:TZ|\s+WITH\s+TIME\s+ZONE)\s*'""".r
  private def rewriteTstzLiterals(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      val lit = literalMask(q)
      TstzLitRe.findAllMatchIn(q).find(m => !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          val close = q.indexOf('\'', m.end)
          require(close > 0, s"unterminated TIMESTAMPTZ literal in: $q")
          val payload = q.substring(m.end, close)
          q = q.substring(0, m.start) +
            s"__graft_tstz(TIMESTAMP '$payload')" + q.substring(close + 1)
      }
    }
    q
  }

  /** `uuid '…'` / `UUID '…'` typed literals -> the canonicalizing
    * native (r16 uuid-blob barrage; Spark's parser has no UUID literal)
    */
  private val UuidLitRe = """(?i)\buuid\s*'""".r
  private def rewriteUuidLiterals(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      val lit = literalMask(q)
      UuidLitRe.findAllMatchIn(q).find(m => !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          val close = q.indexOf('\'', m.end)
          require(close > 0, s"unterminated UUID literal in: $q")
          val payload = q.substring(m.end, close)
          q = q.substring(0, m.start) +
            s"__graft_uuid('$payload')" + q.substring(close + 1)
      }
    }
    q
  }

  /** MIXED-family quoted interval literals (`INTERVAL '1 month 1 day
    * 1 hour'`): Spark's parser raises mixedIntervalUnits where DuckDB
    * takes them verbatim — rewritten to the explicit-triple
    * constructor `__graft_iv_make(months, days, micros)`
    * (functions/IntervalArith.IvMake, a real-fields CalendarInterval).
    * Single-family quoted literals stay native. r14 interval barrage.
    */
  private val IvLitRe = """(?i)\bINTERVAL\s*'""".r
  private def rewriteMixedIntervalLiterals(q0: String): String = {
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      IvLitRe.findAllMatchIn(q).find(m => m.start >= from && !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          val close = q.indexOf('\'', m.end)
          if (close < 0) go = false
          else {
            val payload = q.substring(m.end, close)
            val (mo, d, us) =
              try graft.functions.IntervalText.parse(payload)
              catch { case _: Exception => (0L, 0L, 0L) }
            if (mo != 0L && (d != 0L || us != 0L)) {
              val rep = s"__graft_iv_make($mo, $d, CAST($us AS BIGINT))"
              q = q.substring(0, m.start) + rep + q.substring(close + 1)
              from = m.start + rep.length
            } else from = close + 1
          }
      }
    }
    q
  }

  /** infix `x AT TIME ZONE z` -> `__graft_at_tz(x, z)`; the dispatch on
    * x's tz-ness (naive -> instant vs instant -> wall clock) happens on
    * the analyzed plan (api/DuckLakeXLSpark.sqlSelect). The LHS walk
    * mirrors the JSON-arrow pass: string literal, balanced call/paren
    * group (plus its function name), or a dotted identifier.
    */
  private val AtTzRe = """(?i)\bAT\s+TIME\s+ZONE\b""".r
  private def rewriteAtTimeZone(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      val lit = literalMask(q)
      AtTzRe.findAllMatchIn(q).find(m => !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          // RHS: a quoted zone literal or an identifier/call
          var r = m.end
          while (r < q.length && q.charAt(r).isWhitespace) r += 1
          require(r < q.length, s"dangling AT TIME ZONE in: $q")
          val rEnd =
            if (q.charAt(r) == '\'') {
              var k = r + 1
              while (k < q.length && lit(k)) k += 1
              k
            } else {
              var k = r
              while (k < q.length &&
                (q.charAt(k).isLetterOrDigit || "_.\"".contains(q.charAt(k)))) k += 1
              if (k < q.length && q.charAt(k) == '(') {
                var depth = 0
                var done = -1
                var i = k
                while (i < q.length && done < 0) {
                  if (!lit(i)) {
                    if (q.charAt(i) == '(') depth += 1
                    else if (q.charAt(i) == ')') { depth -= 1; if (depth == 0) done = i }
                  }
                  i += 1
                }
                require(done > 0, s"unbalanced AT TIME ZONE operand in: $q")
                done + 1
              } else k
            }
          val rhs = q.substring(r, rEnd)
          // LHS: walk left — literal / balanced group + name / identifier
          var i = m.start - 1
          while (i >= 0 && q.charAt(i).isWhitespace) i -= 1
          val lhsEnd = i
          require(i >= 0, s"AT TIME ZONE without a left operand in: $q")
          if (q.charAt(i) == '\'' && lit(i)) {
            while (i >= 0 && lit(i)) i -= 1
            // a typed literal keeps its type word (TIMESTAMP '…')
            while (i >= 0 && q.charAt(i).isWhitespace) i -= 1
            val idEnd = i
            while (i >= 0 &&
              (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_')) i -= 1
            if (i == idEnd) i = idEnd // no type word
          } else if (q.charAt(i) == ')') {
            var depth = 0
            var done = false
            while (i >= 0 && !done) {
              if (!lit(i)) {
                if (q.charAt(i) == ')') depth += 1
                else if (q.charAt(i) == '(') { depth -= 1; if (depth == 0) done = true }
              }
              i -= 1
            }
            while (i >= 0 &&
              (q.charAt(i).isLetterOrDigit || "_.\"".contains(q.charAt(i)))) i -= 1
          } else {
            val idEnd = i
            while (i >= 0 &&
              (q.charAt(i).isLetterOrDigit || "_.\"".contains(q.charAt(i)))) i -= 1
            require(idEnd > i, s"cannot parse AT TIME ZONE left operand in: $q")
          }
          val lhsStart = i + 1
          val lhs = q.substring(lhsStart, lhsEnd + 1)
          q = q.substring(0, lhsStart) + s"__graft_at_tz($lhs, $rhs)" +
            q.substring(rEnd)
      }
    }
    q
  }

  /** `list_slice(l, a, b[, step])` / `array_slice` — DuckDB's inclusive
    * 1-based end-relative window (negative bounds count from the end,
    * inverted windows are empty, a 4th arg steps, strings slice by
    * character) — all measured r18 slice differential, one native
    * twin ([[graft.functions.DuckSlice]]) shared with the bracket
    * syntax. dayname/monthname format through date_format. */
  private def rewriteListMisc(q0: String): String = {
    def sliceRw(args: Seq[String]): Option[String] = args match {
      case Seq(l, a, b) =>
        Some(s"__graft_slice(${l.trim}, CAST(${a.trim} AS BIGINT), " +
          s"CAST(${b.trim} AS BIGINT), CAST(1 AS BIGINT), false, false, false)")
      case Seq(l, a, b, st) =>
        Some(s"__graft_slice(${l.trim}, CAST(${a.trim} AS BIGINT), " +
          s"CAST(${b.trim} AS BIGINT), CAST(${st.trim} AS BIGINT), false, false, true)")
      case _ => None
    }
    var q = rewriteCalls(q0, "list_slice")(sliceRw)
    q = rewriteCalls(q, "array_slice")(sliceRw)
    q = rewriteCalls(q, "dayname") {
      case Seq(x) => Some(s"date_format(${x.trim}, 'EEEE')")
      case _ => None
    }
    rewriteCalls(q, "monthname") {
      case Seq(x) => Some(s"date_format(${x.trim}, 'MMMM')")
      case _ => None
    }
  }

  /** DuckDB 4-arg `regexp_replace(s, re, rep, flags)` — Spark's 3-arg
    * form is global already, so a literal 'g' just drops; 'i'/'s' fold
    * into the pattern as inline flags when the pattern is a literal.
    * Anything non-literal or with other flags stays put (loud failure
    * beats silently changed replacement semantics).
    *
    * The 3-arg form matches DuckDB exactly: FIRST match only, routed to
    * the native codegen'd [[graft.functions.RegexpReplaceFirst]] (Spark's
    * builtin 3-arg regexp_replace is global, which would diverge). The
    * 4-arg 'g' spelling is global in both worlds and maps to the
    * builtin. */
  /** bare `x ~ 'pat'` / `x !~ 'pat'` — DuckDB's FULL-match regex
    * operators ('abc' ~ 'b' is false; regexp_full_match twins). `~` is
    * ALSO DuckDB's prefix bitwise-NOT: the spelling is infix exactly
    * when the previous non-ws char ENDS an operand (identifier char,
    * closing quote/paren/bracket) — `~5` stays the prefix form (Spark's
    * own bitwise NOT, same value). The `~~` LIKE family is skipped by
    * neighbor check. r14 (closes the r13 documented refusal).
    */
  /** Expression-level COLLATE (r15 COLLATE barrage; MEASURED on DuckDB
    * 1.0.0): a collation applies at COMPARISON and ORDERING sites —
    * `'A' = 'a' COLLATE NOCASE` is true, `('a' COLLATE NOCASE) IN
    * ('A','x')` is true, `ORDER BY x COLLATE NOCASE` sorts by the
    * case-folded key (ties keep input order there; fixtures avoid ties
    * since Spark's sort is not stable). DuckDB cases with utf8proc's
    * SIMPLE fold ('STRASSE' <> 'straße' under NOCASE, 'ẞ' = 'ß'), which
    * is [[graft.functions.DuckCase]] — NOT Spark's UTF8_LCASE collation,
    * whose full case folding WOULD equate straße/STRASSE.
    *
    * Supported → rewritten to key-function comparisons: `a <op> b
    * COLLATE C`, `a COLLATE C <op> b` (op = <> != < <= > >=), the
    * IN-list shape, and ORDER BY keys (directly after BY or a list
    * comma). keys: NOCASE → __graft_lower, NOACCENT → __graft_noaccent,
    * NFC → __graft_nfc, C/BINARY/POSIX → identity; dotted chains
    * compose. Any other site refuses LOUDLY — DuckDB silently ignores
    * collation in most function arguments (measured: greatest, contains,
    * LIKE) but honors it in others (nullif), a lattice this engine will
    * not guess at.
    */
  private val CollateRe = """(?i)\bCOLLATE\s+([A-Za-z_][\w.]*)""".r
  private val CmpOps = Seq("<=", ">=", "<>", "!=", "=", "<", ">")
  private def rewriteCollate(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      val lit = literalMask(q)
      CollateRe.findAllMatchIn(q).find(m => !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          val keyFns: Seq[String => String] =
            m.group(1).toUpperCase(java.util.Locale.ROOT).split('.').toSeq.map {
              case "NOCASE" => (e: String) => s"__graft_lower($e)"
              case "NOACCENT" => (e: String) => s"__graft_noaccent($e)"
              case "NFC" => (e: String) => s"__graft_nfc($e)"
              case "C" | "BINARY" | "POSIX" => (e: String) => e
              case other => throw new IllegalArgumentException(
                s"unsupported collation $other (NOCASE / NOACCENT / NFC / " +
                  "C / BINARY / POSIX)")
            }
          def key(e: String): String =
            keyFns.foldLeft(e.trim)((acc, f) => f(acc))
          // primaryStart/primaryEnd don't know string literals (they were
          // built for identifier/call operands) — handle them here
          def operandStartBefore(end: Int): Int = {
            var k = end - 1
            while (k >= 0 && q.charAt(k).isWhitespace) k -= 1
            if (k >= 0 && q.charAt(k) == '\'' && lit(k)) {
              var j = k
              while (j >= 0 && lit(j)) j -= 1
              j + 1
            } else primaryStart(q, end)
          }
          def operandEndAfter(from: Int): Int = {
            var p = from
            while (p < q.length && q.charAt(p).isWhitespace) p += 1
            if (p < q.length && q.charAt(p) == '\'' && lit(p)) {
              var j = p
              while (j < q.length && lit(j)) j += 1
              j
            } else primaryEnd(q, from)
          }
          val opStart = operandStartBefore(m.start)
          require(opStart >= 0, s"cannot parse the operand of COLLATE in: $q")
          // right context after the collation name
          var r = m.end
          while (r < q.length && q.charAt(r).isWhitespace) r += 1
          // a parenthesized collate expr `(x COLLATE C) IN (...)`: the
          // operand is primary, so the wrapping parens are redundant —
          // blank them out and let the loop re-process the bare form
          var parenHop = false
          if (r < q.length && q.charAt(r) == ')') {
            var o = opStart - 1
            while (o >= 0 && q.charAt(o).isWhitespace) o -= 1
            if (o >= 0 && q.charAt(o) == '(' && matchingParen(q, o) == r) {
              q = q.substring(0, o) + " " + q.substring(o + 1, r) + " " +
                q.substring(r + 1)
              parenHop = true
            }
          }
          val operand = q.substring(opStart, m.start).trim
          val rightOp = CmpOps.find(op => q.startsWith(op, r))
          // left context before the operand
          var l = opStart - 1
          while (l >= 0 && q.charAt(l).isWhitespace) l -= 1
          val leftOp = CmpOps.filter(op => l - op.length + 1 >= 0 &&
            q.regionMatches(l - op.length + 1, op, 0, op.length))
            .sortBy(-_.length).headOption
            // `<=`/`>=`/`<>` must win over their 1-char suffixes
          def wordBefore(p0: Int): String = {
            var p = p0
            while (p >= 0 && q.charAt(p).isWhitespace) p -= 1
            var w = p
            while (w >= 0 && (q.charAt(w).isLetterOrDigit || q.charAt(w) == '_')) w -= 1
            q.substring(w + 1, p + 1).toUpperCase(java.util.Locale.ROOT)
          }
          if (parenHop) {
            // re-processed next iteration on the paren-free text
          } else if (rightOp.isDefined) {
            // a COLLATE C <op> b
            val op = rightOp.get
            val rhsEnd = operandEndAfter(r + op.length)
            require(rhsEnd > 0, s"cannot parse the comparison after COLLATE in: $q")
            val rhs = q.substring(r + op.length, rhsEnd).trim
            q = q.substring(0, opStart) +
              s"${key(operand)} $op ${key(rhs)}" + q.substring(rhsEnd)
          } else if (q.regionMatches(true, r, "IN", 0, 2) &&
              (r + 2 >= q.length || !identChar(q.charAt(r + 2)))) {
            // a COLLATE C IN (e1, e2, …)
            var p = r + 2
            while (p < q.length && q.charAt(p).isWhitespace) p += 1
            require(p < q.length && q.charAt(p) == '(',
              s"cannot parse the IN list after COLLATE in: $q")
            val close = matchingParen(q, p)
            val items = splitTopCommas(q.substring(p + 1, close)).map(key)
            q = q.substring(0, opStart) +
              s"${key(operand)} IN (${items.mkString(", ")})" +
              q.substring(close + 1)
          } else if (leftOp.isDefined) {
            // a <op> b COLLATE C — the far LHS crosses concat/arith chains
            val op = leftOp.get
            val opPos = l - op.length + 1
            val lhsStart = quantLhsStart(q, opPos, lit)
            val lhs = q.substring(lhsStart, opPos).trim
            require(lhs.nonEmpty, s"cannot parse the comparison before COLLATE in: $q")
            q = q.substring(0, lhsStart) +
              s"${key(lhs)} $op ${key(operand)}" + q.substring(m.end)
          } else if (wordBefore(l) == "BY" ||
              (l >= 0 && q.charAt(l) == ',' && {
                // list comma: walk left over balanced items to the clause
                var p = l - 1
                var depth = 0
                var clause = ""
                while (p >= 0 && clause.isEmpty) {
                  val c = q.charAt(p)
                  if (!lit(p)) {
                    if (c == ')' || c == ']') depth += 1
                    else if (c == '(' || c == '[') { depth -= 1; if (depth < 0) clause = "(" }
                    else if (depth == 0 && (c.isLetter || c == '_')) {
                      var w = p
                      while (w >= 0 && (q.charAt(w).isLetterOrDigit || q.charAt(w) == '_')) w -= 1
                      val word = q.substring(w + 1, p + 1).toUpperCase(java.util.Locale.ROOT)
                      if (word == "BY" || word == "SELECT" || word == "FROM" ||
                          word == "WHERE" || word == "HAVING") clause = word
                      p = w
                    }
                  }
                  p -= 1
                }
                clause == "BY"
              })) {
            // ORDER BY key (first or later in the list): sort by the key fn
            q = q.substring(0, opStart) + key(operand) + q.substring(m.end)
          } else throw new IllegalArgumentException(
            "COLLATE is supported in comparisons, IN lists and ORDER BY " +
              s"keys; cannot rewrite its context in: $q (DuckDB silently " +
              "ignores collation at some other sites and honors it at " +
              "others — refusing rather than guessing)")
      }
    }
    q
  }

  /** `a [NOT] ILIKE p [ESCAPE e]` — DuckDB case-insensitivity is the
    * SIMPLE fold (measured: 'ss' ILIKE 'ß' is false, 'İ' ILIKE 'i' is
    * true), so both sides fold through __graft_lower and the predicate
    * becomes a plain LIKE. The pattern side extends over || chains
    * (measured: `'ab' ILIKE 'A' || 'B'` is true — concat binds tighter).
    */
  private val IlikeRe = """(?i)\b(NOT\s+)?ILIKE\b""".r
  private def rewriteIlike(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      val lit = literalMask(q)
      IlikeRe.findAllMatchIn(q).find(m => !lit(m.start)) match {
        case None => go = false
        case Some(m) =>
          val neg = m.group(1) != null
          val lhsStart = quantLhsStart(q, m.start, lit)
          val lhs = q.substring(lhsStart, m.start).trim
          require(lhs.nonEmpty, s"cannot parse the left operand of ILIKE in: $q")
          def opEnd(from: Int): Int = {
            var p = from
            while (p < q.length && q.charAt(p).isWhitespace) p += 1
            if (p < q.length && q.charAt(p) == '\'' && lit(p)) {
              var j = p
              while (j < q.length && lit(j)) j += 1
              j
            } else primaryEnd(q, from)
          }
          var rEnd = opEnd(m.end)
          require(rEnd > 0, s"cannot parse the ILIKE pattern in: $q")
          var more = true
          while (more) { // extend over || concat chains
            var p = rEnd
            while (p < q.length && q.charAt(p).isWhitespace) p += 1
            if (p + 1 < q.length && q.charAt(p) == '|' && q.charAt(p + 1) == '|') {
              val e2 = opEnd(p + 2)
              if (e2 > 0) rEnd = e2 else more = false
            } else more = false
          }
          val pat = q.substring(m.end, rEnd).trim
          val not = if (neg) "NOT " else ""
          q = q.substring(0, lhsStart) +
            s"${not}__graft_lower($lhs) LIKE __graft_lower($pat)" +
            q.substring(rEnd)
      }
    }
    q
  }

  /** `a % 0` is NULL in DuckDB (any numeric flavor — measured: 1 % 0,
    * 7.5 % 0 both NULL, never an error and never NaN); Spark's ANSI `%`
    * throws REMAINDER_BY_ZERO and its double remainder yields NaN. The
    * rewrite wraps the DIVISOR once in `nullif(d, 0)` — a NULL divisor
    * short-circuits `%` to NULL in both modes, the divisor evaluates
    * exactly once, and every non-zero case keeps Spark's native
    * (type-preserving, codegen) remainder. Sign behavior already
    * matches (both C-style, sign of the dividend). r15 numedge barrage.
    */
  /** `a << b` / `a >> b` -> guarded natives (r15 numedge: DuckDB's typed
    * overflow checks vs Spark's silent wrap — `1 << 63` wrapped to
    * garbage through the lake). Shifts bind BELOW additive in DuckDB
    * (measured: `1 + 2 << 1` = 6, `2 << 1 + 1` = 8), so operands extend
    * over +/- and multiplicative chains, stopping at comparisons,
    * clause keywords, commas and bracket edges; chained shifts stay
    * left-associative because the rhs stops at the NEXT shift and the
    * loop folds outward. A unary sign is part of the operand
    * (`-7 >> 1` is arithmetic-shift of -7, not -(7 >> 1)).
    */
  private def rewriteShifts(q0: String): String = {
    var q = q0
    var go = true
    def isAddMul(c: Char) = c == '+' || c == '-' || c == '*' || c == '/' ||
      c == '%' || c == '^'
    while (go) {
      val lit = literalMask(q)
      var op = -1
      var i = 0
      while (i + 1 < q.length && op < 0) {
        val c = q.charAt(i)
        if (!lit(i) && (c == '<' || c == '>') && q.charAt(i + 1) == c &&
            (i == 0 || (q.charAt(i - 1) != '-' && q.charAt(i - 1) != c)) &&
            (i + 2 >= q.length || q.charAt(i + 2) != c)) op = i
        i += 1
      }
      if (op < 0) go = false
      else {
        val isLeft = q.charAt(op) == '<'
        // a `::` postfix cast binds tighter than a shift; a primary that
        // lands on the TYPE word of `x::TYPE` must extend back over the
        // whole cast chain (r16: `0::BIGINT << 64` mangled to
        // `0::__graft_shl(BIGINT, 64)` before this)
        def extendCastBack(start0: Int): Int = {
          var st = start0
          var going = st > 1
          while (going) {
            var k = st - 1
            while (k >= 0 && q.charAt(k).isWhitespace) k -= 1
            if (k >= 1 && !lit(k) && q.charAt(k) == ':' && q.charAt(k - 1) == ':') {
              val prev = primaryStart(q, k - 1)
              if (prev >= 0 && prev < st) st = prev else going = false
            } else going = false
          }
          st
        }
        // ---- lhs: primary, then extend back over +,-,*,/,%,^ chains
        var ls = primaryStart(q, op)
        if (ls < 0) return q
        ls = extendCastBack(ls)
        var extending = true
        while (extending && ls > 0) {
          var k = ls - 1
          while (k >= 0 && q.charAt(k).isWhitespace) k -= 1
          if (k >= 0 && !lit(k) && isAddMul(q.charAt(k))) {
            var p = k - 1
            while (p >= 0 && q.charAt(p).isWhitespace) p -= 1
            val binary = p >= 0 && (q.charAt(p).isLetterOrDigit ||
              q.charAt(p) == '_' || q.charAt(p) == ')' || q.charAt(p) == ']' ||
              (q.charAt(p) == '\'' && lit(p)))
            if (binary) {
              val prev = primaryStart(q, k)
              if (prev >= 0 && prev < ls) ls = extendCastBack(prev)
              else extending = false
            } else { ls = k; extending = false } // unary sign: include it
          } else extending = false
        }
        // ---- rhs: primary (with sign), then extend over +,-,*,/,%,^
        var re = -1
        var r = op + 2
        while (r < q.length && q.charAt(r).isWhitespace) r += 1
        def extendCastFwd(end0: Int): Int = {
          var en = end0
          var going = true
          while (going) {
            var k = en
            while (k < q.length && q.charAt(k).isWhitespace) k += 1
            if (k + 1 < q.length && !lit(k) && q.charAt(k) == ':' &&
                q.charAt(k + 1) == ':') {
              val e2 = primaryEnd(q, k + 2)
              if (e2 > en) en = e2 else going = false
            } else going = false
          }
          en
        }
        re = primaryEnd(q, op + 2) // primaryEnd skips unary +/- itself
        if (re < 0) return q
        re = extendCastFwd(re)
        var more = true
        while (more) {
          var k = re
          while (k < q.length && q.charAt(k).isWhitespace) k += 1
          if (k < q.length && !lit(k) && isAddMul(q.charAt(k)) &&
              !(q.charAt(k) == '-' && k + 1 < q.length && q.charAt(k + 1) == '>')) {
            val e2 = primaryEnd(q, k + 1)
            if (e2 > 0) re = extendCastFwd(e2) else more = false
          } else more = false
        }
        val l = q.substring(ls, op).trim
        val rr = q.substring(op + 2, re).trim
        if (l.isEmpty || rr.isEmpty) return q
        val fn = if (isLeft) "__graft_shl" else "__graft_shr"
        q = q.substring(0, ls) + s"$fn($l, $rr)" + q.substring(re)
      }
    }
    q
  }

  private def wordAtGlobal(s: String, k0: Int): String = {
    var e = k0
    while (e < s.length && (s.charAt(e).isLetterOrDigit || s.charAt(e) == '_')) e += 1
    s.substring(k0, e).toUpperCase(java.util.Locale.ROOT)
  }
  private def rewriteModNullSafe(q0: String): String = {
    val lit = literalMask(q0)
    val sb = new StringBuilder
    var i = 0
    while (i < q0.length) {
      val c = q0.charAt(i)
      if (!lit(i) && c == '%' &&
          (i + 1 >= q0.length || q0.charAt(i + 1) != '%')) {
        // binary only: something operand-ish must precede
        var k = i - 1
        while (k >= 0 && q0.charAt(k).isWhitespace) k -= 1
        val binary = k >= 0 && {
          val p = q0.charAt(k)
          p.isLetterOrDigit || p == '_' || p == ')' || p == ']' ||
            p == '"' || (p == '\'' && lit(k))
        }
        if (binary) {
          // rhs primary (or string-adjacent numeric literal)
          var r = i + 1
          while (r < q0.length && q0.charAt(r).isWhitespace) r += 1
          // POSTFIX percent (USING SAMPLE 30% REPEATABLE / 50%): a
          // keyword after '%' means it is not a binary modulo
          val kwAfter = r < q0.length && q0.charAt(r).isLetter && {
            val w = wordAtGlobal(q0, r)
            TrailingCommaNonCall(w) || TrailingCommaKws(w) ||
              w == "REPEATABLE" || w == "ROWS" || w == "PERCENT"
          }
          val rEnd = if (kwAfter) -1 else primaryEnd(q0, i + 1)
          if (rEnd > 0) {
            sb.append("% nullif(").append(q0.substring(r, rEnd).trim)
              .append(", 0)")
            i = rEnd
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def rewriteBareRegexOps(q0: String): String = {
    var q = q0
    var from = 0
    var go = true
    while (go) {
      val lit = literalMask(q)
      var i = from
      var found = -1
      var neg = false
      while (i < q.length && found < 0) {
        if (!lit(i) && q.charAt(i) == '~') {
          val prev = if (i > 0) q.charAt(i - 1) else ' '
          val next = if (i + 1 < q.length) q.charAt(i + 1) else ' '
          if (prev != '~' && next != '~') {
            if (prev == '!') { found = i - 1; neg = true }
            else {
              var k = i - 1
              while (k >= 0 && q.charAt(k).isWhitespace) k -= 1
              val infix = k >= 0 && {
                val c = q.charAt(k)
                if (c == '"' || c == ')' || c == ']' || (c == '\'' && lit(k))) true
                else if (c.isLetterOrDigit || c == '_') {
                  // a keyword before `~` means PREFIX (… AND ~x)
                  var w = k
                  while (w >= 0 && (q.charAt(w).isLetterOrDigit || q.charAt(w) == '_')) w -= 1
                  !QuantStopKws(
                    q.substring(w + 1, k + 1).toUpperCase(java.util.Locale.ROOT))
                } else false
              }
              if (infix) found = i
            }
          }
        }
        i += 1
      }
      if (found < 0) go = false
      else {
        val opLen = if (neg) 2 else 1
        // LHS crosses binary arithmetic/concat (measured:
        // `'a' || 'bc' ~ 'abc'` is TRUE — the concat binds first);
        // the RHS is the TIGHT operand (`'abc' ~ 'a' || 'bc'` is
        // ('abc' ~ 'a') || 'bc' = 'falsebc' — measured)
        val lhsStart = quantLhsStart(q, found, lit)
        val lhs = q.substring(lhsStart, found).trim
        require(lhs.nonEmpty, s"cannot parse the left operand of ~ in: $q")
        var r = found + opLen
        while (r < q.length && q.charAt(r).isWhitespace) r += 1
        require(r < q.length, s"dangling ~ in: $q")
        val rEnd =
          if (q.charAt(r) == '\'') {
            var k = r + 1
            while (k < q.length && lit(k)) k += 1
            k
          } else {
            var k = r
            while (k < q.length &&
              (q.charAt(k).isLetterOrDigit || "_.\"$".contains(q.charAt(k)))) k += 1
            if (k < q.length && q.charAt(k) == '(') matchingParen(q, k) + 1 else k
          }
        val rhs = q.substring(r, rEnd).trim
        require(rhs.nonEmpty, s"cannot parse the right operand of ~ in: $q")
        val rep =
          if (neg) s"(NOT regexp_full_match($lhs, $rhs))"
          else s"regexp_full_match($lhs, $rhs)"
        q = q.substring(0, lhsStart) + rep + q.substring(rEnd)
        from = lhsStart + rep.length
      }
    }
    q
  }

  def rewriteRegexpFlags(q0: String): String = {
    // every replace spelling lands on the native RegexpReplaceDuck:
    // FIRST-match unless 'g', \N backrefs translated, POSIX classes and
    // option letters handled at pattern-compile (r13 regexp barrage —
    // the old literal-inline path silently made 4-arg 'i' GLOBAL and
    // left \N backrefs to Java's different rules)
    var q = rewriteCalls(q0, "regexp_replace") { args =>
      if (args.length == 3)
        Some(s"__graft_regexp_replace(${args.map(_.trim).mkString(", ")}, '')")
      else if (args.length == 4)
        Some(s"__graft_regexp_replace(${args.map(_.trim).mkString(", ")})")
      else None
    }
    // regexp_matches is find-anywhere with option letters; full_match
    // anchors the whole string — both native (Java mis-parses RE2's
    // [[:upper:]] silently, so even the 2-arg form routes there)
    q = rewriteCalls(q, "regexp_matches") { args =>
      if (args.length == 2)
        Some(s"__graft_regexp_matches(${args.map(_.trim).mkString(", ")}, '')")
      else if (args.length == 3)
        Some(s"__graft_regexp_matches(${args.map(_.trim).mkString(", ")})")
      else None
    }
    q = rewriteCalls(q, "regexp_full_match") { args =>
      if (args.length == 2)
        Some(s"__graft_regexp_full_match(${args.map(_.trim).mkString(", ")}, '')")
      else if (args.length == 3)
        Some(s"__graft_regexp_full_match(${args.map(_.trim).mkString(", ")})")
      else None
    }
    // DuckDB's default group for regexp_extract[_all] is 0 (the whole
    // match); Spark's is 1 and ERRORS on a groupless pattern (r13). A
    // LIST third argument names the groups into a struct (measured
    // `{'y': 2024, …}`).
    def extRw(fn: String)(args: Seq[String]): Option[String] =
      if (args.length == 2) Some(s"$fn(${args(0).trim}, ${args(1).trim}, 0)")
      else if (args.length == 3 && args(2).trim.startsWith("[")) {
        val inner = args(2).trim.stripPrefix("[").stripSuffix("]")
        val names = inner.split(",").map(_.trim).toSeq
        require(names.forall(n => n.startsWith("'") && n.endsWith("'")),
          s"regexp_extract group names must be quoted literals: $inner")
        Some("named_struct(" + names.zipWithIndex.map { case (n, i) =>
          s"$n, $fn(${args(0).trim}, ${args(1).trim}, ${i + 1})"
        }.mkString(", ") + ")")
      } else None
    q = rewriteCalls(q, "regexp_extract")(extRw("regexp_extract"))
    rewriteCalls(q, "regexp_extract_all")(extRw("regexp_extract_all"))
  }

  /** DuckDB single-quoted string literals are ESCAPE-FREE (backslash is
    * an ordinary character; only '' escapes a quote), while Spark's
    * parser processes backslash escapes — so a pasted DuckDB `'\s+'`
    * silently reached Spark as `'s+'` (r10 find, via SET VARIABLE).
    * Double every backslash inside single-quoted literals just before
    * text reaches Spark's parser; the '' quote-escape passes through.
    */
  /** DuckDB literal spellings Spark's lexer lacks: `$$…$$` dollar-quoted
    * strings (content re-escaped into a plain literal), hex integers
    * (`0x1F` -> 31) and digit-separator underscores (`1_000_000` ->
    * 1000000). Tagged `$tag$…$tag$` quotes stay out (loud). A token
    * starting with a digit can never be an identifier, so the numeric
    * passes cannot touch column names.
    */
  private def normalizeLiteralForms(s0: String): String = {
    var q = s0
    // bare $$…$$ outside ordinary quotes (a '$$' INSIDE a normal string
    // literal is content — skip it and keep scanning, r11 review)
    var from = 0
    while (from >= 0) {
      val at = q.indexOf("$$", from)
      if (at < 0) from = -1
      else if (literalMask(q)(at)) from = at + 1
      else {
        val close = q.indexOf("$$", at + 2)
        require(close > 0, "unterminated $$ quote: " + s0)
        val content = q.substring(at + 2, close).replace("'", "''")
        q = q.substring(0, at) + "'" + content + "'" + q.substring(close + 2)
        from = at + content.length + 2
      }
    }
    q = mapOutsideLiterals(q) { seg =>
      val hexed = """\b0[xX]([0-9a-fA-F]+)\b""".r.replaceAllIn(seg,
        m => BigInt(m.group(1), 16).toString)
      """\b(\d[\d_]*(?:\.[\d_]+)?)\b""".r.replaceAllIn(hexed, m =>
        if (m.group(1).contains('_')) m.group(1).replace("_", "") else m.group(1))
    }
    q
  }

  def sparkifyLiterals(s00: String): String = {
    val s = normalizeLiteralForms(s00)
    val kinds = quoteKinds(s)
    val out = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && kinds(i) == InString) out.append("\\\\") else out.append(c)
      i += 1
    }
    out.toString
  }

  /** currval only — used by the distributed-draw path, where nextval must
    * survive to execution but currval is still a per-statement constant */
  def rewriteCurrvalCalls(q: String)(curr: String => Long): String =
    rewriteCalls(q, "currval") {
      case Seq(a) => quotedLiteral(a.trim).map(n => s"CAST(${curr(n)} AS BIGINT)")
      case _ => None
    }

  /** one extracted `nextval` select item: the unique placeholder alias it
    * was replaced with, the sequence name, and the user's alias if any */
  final case class NextvalSite(placeholder: String, seq: String,
                               alias: Option[String])

  /** Distributed sequence-draw support (`INSERT INTO t SELECT
    * nextval('s'), x FROM big`): when every `nextval` in the SELECT body
    * is a TOP-LEVEL select item (optionally aliased), pull them out —
    * returns the body with each such item replaced by a uniquely-aliased
    * NULL BIGINT placeholder, plus the per-site descriptors, in select-
    * list order. None when the body has no top-level FROM, starts with
    * DISTINCT, or any nextval sits NESTED inside an expression — the
    * caller refuses those loudly (a partial rewrite would silently draw
    * wrong values).
    */
  def extractNextvalItems(select0: String): Option[(String, Seq[NextvalSite])] = {
    val (head, fromTail) = splitTopLevelKeyword(select0, "FROM")
    if (fromTail.isEmpty) return None
    val hm = """(?is)^\s*SELECT\s+(.*)$""".r.findFirstMatchIn(head)
    if (hm.isEmpty) return None
    val itemsStr = hm.get.group(1)
    if ("""(?is)^\s*(DISTINCT|ALL)\b""".r.findFirstIn(itemsStr).isDefined)
      return None
    val ItemRe =
      """(?is)^\s*nextval\s*\(\s*'([^']+)'\s*\)\s*(?:(?:AS\s+)?("?\w+"?))?\s*$""".r
    var k = 0
    val sites = Seq.newBuilder[NextvalSite]
    val newItems = splitTopCommas(itemsStr).map {
      case ItemRe(seq, alias) =>
        val ph = s"__graft_seq_$k"
        k += 1
        sites += NextvalSite(ph, seq,
          Option(alias).map(_.stripPrefix("\"").stripSuffix("\"")))
        s"CAST(NULL AS BIGINT) AS $ph"
      case it =>
        if (hasCall(it, "nextval")) return None // nested — refuse upstream
        it
    }
    if (k == 0) return None
    Some(("SELECT " + newItems.mkString(", ") + " FROM " + fromTail.get,
      sites.result()))
  }

  /** `FROM glob('pattern')` — DuckDB's file-listing table function.
    * The caller's `register` lists matching files (metadata plane) into
    * a temp view with DuckDB's column name (`file`) and returns the view
    * name. Only a single quoted-literal pattern rewrites; anything else
    * is left to fail resolution loudly. The infix `x GLOB 'pat'` match
    * operator never has a following paren, so it cannot collide.
    */
  def rewriteGlob(q0: String)(register: String => String): String =
    rewriteCalls(q0, "glob") { args =>
      if (args.length == 1) quotedLiteral(args.head.trim).map(register)
      else None
    }

  /** Direct file queries — DuckDB's pass-through engine makes
    * `SELECT * FROM 'data/x.parquet'` and the `read_parquet` /
    * `read_csv[_auto]` / `read_json[_auto]` table functions first-hour
    * spellings (the reference forwards them verbatim, ducklakexl.py:394;
    * SURVEY §2.B names read_csv). Spark SQL has no path-in-FROM syntax,
    * so each file source is lifted into a temp view by the caller's
    * `register(format, paths, options)` callback and the call site is
    * replaced with the returned view name. Handles list-of-path literals
    * (`read_parquet(['a','b'])`) and named reader options (`header=true`,
    * `delim='|'`, `:=` spelling too); non-literal arguments leave the
    * call untouched (it will fail resolution loudly rather than misread).
    * Registration keeps `spark.read.<fmt>` as the source, so pushdown /
    * pruning / distributed scans work exactly as for catalog tables.
    */
  def rewriteFileReads(q0: String)(
      register: (String, Seq[String], Map[String, String]) => String): String = {
    var q = q0
    // read_ndjson* is read_json with the framing pinned to
    // newline_delimited (an explicit user format= still wins)
    val fns = Seq(
      ("read_parquet", "parquet", Map.empty[String, String]),
      ("parquet_scan", "parquet", Map.empty[String, String]),
      ("read_csv_auto", "csv", Map.empty[String, String]),
      ("read_csv", "csv", Map.empty[String, String]),
      ("read_json_auto", "json", Map.empty[String, String]),
      ("read_json", "json", Map.empty[String, String]),
      ("read_ndjson_auto", "json", Map("format" -> "newline_delimited")),
      ("read_ndjson", "json", Map("format" -> "newline_delimited")))
    for ((fn, fmt, defaults) <- fns) q = rewriteCalls(q, fn) { args0 =>
      // splitTopCommas tracks parens/quotes but not brackets/braces —
      // stitch a split `['a', 'b']` list or `{'a': 'T', 'b': 'U'}`
      // struct literal back into one argument
      val args = args0.foldLeft(mutable.ArrayBuffer[String]()) { (acc, a) =>
        val open = acc.lastOption.exists(p =>
          p.count(_ == '[') > p.count(_ == ']') ||
          p.count(_ == '{') > p.count(_ == '}'))
        if (open) acc(acc.length - 1) = acc.last + ", " + a else acc += a
        acc
      }.toSeq
      val paths = mutable.ArrayBuffer[String]()
      val opts = mutable.Map[String, String]()
      var ok = args.nonEmpty
      args.foreach { a0 =>
        val a = a0.trim
        quotedLiteral(a) match {
          case Some(p) => paths += p
          case None =>
            if (a.startsWith("[") && a.endsWith("]")) {
              splitTopCommas(a.substring(1, a.length - 1)).foreach { e =>
                quotedLiteral(e) match {
                  case Some(p) => paths += p
                  case None    => ok = false
                }
              }
            } else {
              val eq = a.indexOf('=')
              if (eq > 0) {
                // `header=true` or `header := true` named-parameter forms
                val k = a.substring(0, eq).trim.stripSuffix(":").trim.toLowerCase
                val v = a.substring(eq + 1).stripPrefix("=").trim
                if (k.nonEmpty) opts(k) = quotedLiteral(v).getOrElse(v)
                else ok = false
              } else ok = false
            }
        }
      }
      if (ok && paths.nonEmpty)
        Some(register(fmt, paths.toSeq, defaults ++ opts.toMap))
      else None
    }
    // `FROM 'x.parquet'` / `JOIN "x.csv"` string-literal tables: format
    // derives from the extension, which also disambiguates from SQL's
    // other FROM-inside-expression forms (EXTRACT(m FROM '…'), TRIM).
    // The FROM/JOIN keyword itself must sit OUTSIDE any string literal
    // (a user literal like 'see FROM "a.csv"' must not be rewritten).
    val lit = literalMask(q)
    FileFromRe.replaceSomeIn(q, m =>
      if (lit(m.start) || inExprFromContext(q, lit, m.start)) None
      else Some(java.util.regex.Matcher.quoteReplacement {
        val path = m.group(3)
        val ext = m.group(4).toLowerCase
        val fmt = ext match {
          case "parquet" => "parquet"
          case "csv" | "tsv" => "csv"
          case _ => "json"
        }
        val opts = if (ext == "tsv") Map("delim" -> "\t") else Map.empty[String, String]
        m.group(1) + " " + register(fmt, Seq(path), opts)
      }))
  }

  /** session-introspection scalars a DuckDB user pokes early:
    * `version()` -> the engine version literal; `current_setting('k')` ->
    * the session's stored value (numeric settings emit unquoted so
    * `current_setting('threads') * 2` stays arithmetic). Unknown keys
    * leave the call in place to fail resolution loudly.
    */
  def rewriteSessionReadouts(q0: String, version: String,
                             setting: String => Option[String]): String = {
    var q = rewriteCalls(q0, "version") { args =>
      if (args.isEmpty || (args.lengthIs == 1 && args.head.trim.isEmpty))
        Some("'" + version.replace("'", "''") + "'")
      else None
    }
    q = rewriteCalls(q, "current_setting") {
      case Seq(k) => quotedLiteral(k).flatMap(setting).map { v =>
        if (v.matches("""-?\d+(\.\d+)?""")) v
        else "'" + v.replace("'", "''") + "'"
      }
      case _ => None
    }
    q
  }

  /** ANSI SQL reuses FROM inside expressions — `TRIM(x FROM 'a.csv')`,
    * `SUBSTRING(s FROM 2)`, `EXTRACT(month FROM d)` — where the quoted
    * operand is a VALUE, not a table. A FROM whose nearest unmatched
    * open-paren belongs to one of those functions is an expression
    * context and must not be rewritten (a table FROM inside a subquery
    * paren follows SELECT/bare parens and passes through).
    */
  private val ExprFromFns = Set("trim", "ltrim", "rtrim", "btrim",
    "substring", "substr", "extract", "position", "overlay")
  private def inExprFromContext(s: String, lit: Array[Boolean], fromPos: Int): Boolean = {
    var depth = 0
    var i = fromPos - 1
    while (i >= 0) {
      if (!lit(i)) {
        val c = s.charAt(i)
        if (c == ')') depth += 1
        else if (c == '(') {
          if (depth == 0) {
            var j = i - 1
            while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
            val end = j
            while (j >= 0 && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j -= 1
            return ExprFromFns.contains(s.substring(j + 1, end + 1).toLowerCase)
          } else depth -= 1
        }
      }
      i -= 1
    }
    false
  }

  /** FROM/JOIN followed by a quoted path with a data-file extension
    * (globs allowed; matching open/close quote via backreference)
    */
  private val FileFromRe =
    ("(?i)\\b(FROM|JOIN)\\s+(['\"])([^'\"]+?\\." +
     "(parquet|csv|tsv|json|jsonl|ndjson)(?:\\.gz)?)\\2").r

  private def quotedLiteral(e: String): Option[String] = {
    val t = e.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'') {
      val inner = t.substring(1, t.length - 1)
      // a doubled quote-pair is the escaped quote char (read_csv's
      // quote parameter spelled as four quotes passes ONE single-quote
      // char, r15 csvio barrage); a LONE quote means this is not one
      // literal (e.g. a concatenation of two) — reject
      val unesc = inner.replace("''", "\u0000")
      if (unesc.contains('\'')) None
      else Some(unesc.replace("\u0000", "'"))
    } else None
  }

  private def rewriteStrftime(q: String): String =
    rewriteCalls(q, "strftime") {
      case Seq(ts, fmt) => Some(s"__graft_strftime($ts, $fmt)")
      case _ => None
    }

  /** `strptime(s, fmt)` / `try_strptime` route to the measured-semantics
    * native (functions/StrfDuck — r16 barrage replaced the Java-pattern
    * translation, which silently diverged on week/ISO fields). DuckDB
    * types the result TIMESTAMP WITH TIME ZONE when the format carries
    * %z or is a LIST, so those literal shapes pick up the tstz tag.
    */
  private def rewriteStrptime(q: String): String = {
    def emit(fn: String)(s: String, fmt: String): String = {
      val isTz = fmt.trim.startsWith("[") ||
        quotedLiteral(fmt).exists(_.contains("%z"))
      val core = s"$fn($s, $fmt)"
      if (isTz) s"__graft_tstz($core)" else core
    }
    val q1 = rewriteCalls(q, "try_strptime") {
      case Seq(s, fmt) => Some(emit("__graft_try_strptime")(s, fmt))
      case _ => None
    }
    rewriteCalls(q1, "strptime") {
      case Seq(s, fmt) => Some(emit("__graft_strptime")(s, fmt))
      case _ => None
    }
  }

  /** quantified comparisons `x = ANY (sub)` -> `x IN (sub)` and
    * `x <> ALL (sub)` -> `x NOT IN (sub)` — the two idioms with exact
    * Spark twins; a bare VALUES body wraps into a subquery. The
    * ordering quantifiers (`> ANY` …) reduce to min/max scalar
    * subqueries in [[rewriteQuantifiedOrdering]] (r13 wave 2).
    */
  private def rewriteQuantified(q0: String): String = {
    var q = q0
    for ((pat, rep) <- Seq(("""(?i)=\s*ANY\s*\(""", " IN ("),
                           ("""(?i)(?:<>|!=)\s*ALL\s*\(""", " NOT IN ("))) {
      val r = pat.r
      var from = 0
      var go = true
      while (go) {
        val lit = literalMask(q)
        r.findFirstMatchIn(q.substring(from)) match {
          case None => go = false
          case Some(m) =>
            val start = from + m.start
            if (lit(start)) from = start + 1
            else {
              val open = from + m.end - 1
              val close = matchingParen(q, open, lit)
              val inner = q.substring(open + 1, close).trim
              val body =
                if (inner.toUpperCase(java.util.Locale.ROOT).startsWith("VALUES"))
                  s"SELECT * FROM ($inner) AS __q"
                else inner
              q = q.substring(0, start) + rep.dropRight(1) + "(" + body +
                q.substring(close)
              from = start + rep.length + body.length
            }
        }
      }
    }
    q
  }

  /** r11 function-family wave (barrage-probe findings): DuckDB scalars
    * with composable Spark twins — each mapping is exact or carries the
    * guard that keeps it exact; anything without a faithful composition
    * (1-arg age — current_date-relative, volatile) still fails LOUDLY.
    */
  /** SQL-standard ordered-set aggregates (r16 aggdepth barrage):
    * `mode() WITHIN GROUP (ORDER BY x)` is mode(x);
    * `percentile_cont/disc(p) WITHIN GROUP (ORDER BY x)` are the
    * quantile_cont/disc twins (measured value-identical, DOUBLE
    * interpolation for cont) — emitted as the DuckDB spellings so the
    * quantile rewrite downstream routes them to the DECIMAL-aware
    * natives and expands list fractions. A DESC sort key inverts a
    * cont fraction to 1-p; DESC disc/mode/list fractions refuse LOUDLY
    * (the discrete inversion is not 1-p at ties).
    */
  private def rewriteWithinGroup(q0: String): String = {
    var q = q0
    val re = """(?i)\b(mode|percentile_cont|percentile_disc)\s*\(""".r
    var from = 0
    var go = true
    while (go) {
      val lm = literalMask(q)
      re.findAllMatchIn(q).find(m => m.start >= from && !lm(m.start)) match {
        case None => go = false
        case Some(m) =>
          val fn = m.group(1).toLowerCase(java.util.Locale.ROOT)
          val argOpen = m.end - 1
          val argClose = matchingParen(q, argOpen, lm)
          val inner = q.substring(argOpen + 1, argClose).trim
          val tail = q.substring(argClose + 1)
          """(?is)^\s*WITHIN\s+GROUP\s*\(""".r.findFirstMatchIn(tail) match {
            case None => from = argClose + 1
            case Some(w) =>
              val wgOpen = argClose + 1 + w.end - 1
              val wgClose = matchingParen(q, wgOpen, lm)
              val ob = q.substring(wgOpen + 1, wgClose).trim
              val obm = """(?is)^ORDER\s+BY\s+(.*)$""".r.findFirstMatchIn(ob)
              require(obm.isDefined, s"WITHIN GROUP requires ORDER BY: $ob")
              var key = obm.get.group(1).trim
              var desc = false
              """(?is)^(.*?)\s+(ASC|DESC)$""".r.findFirstMatchIn(key).foreach { d =>
                key = d.group(1).trim
                desc = d.group(2).equalsIgnoreCase("DESC")
              }
              val rep = fn match {
                case "mode" =>
                  require(inner.isEmpty, "mode() WITHIN GROUP takes no argument")
                  require(!desc, "mode() WITHIN GROUP (ORDER BY ... DESC) is unsupported")
                  // the ordered-set form ties to the SMALLEST value
                  // (measured: mode over ties answers the first in the
                  // ORDER BY order) — plain mode() keeps first-seen,
                  // arbitrary-on-tie in both engines. Histogram keys
                  // ascending -> sort entries by (-count, key), head.
                  s"element_at(transform(array_sort(transform(" +
                    s"map_entries(__graft_histogram($key)), " +
                    s"__me -> named_struct('c', -(__me.value), 'k', __me.key))), " +
                    s"__ms -> __ms.k), 1)"
                case _ =>
                  require(inner.nonEmpty, s"$fn WITHIN GROUP needs a fraction")
                  val tgt = if (fn == "percentile_cont") "quantile_cont"
                            else "quantile_disc"
                  val p =
                    if (!desc) inner
                    else {
                      require(fn == "percentile_cont" && !inner.startsWith("["),
                        s"$fn WITHIN GROUP (ORDER BY ... DESC) is unsupported")
                      s"(1.0 - ($inner))"
                    }
                  s"$tgt($key, $p)"
              }
              q = q.substring(0, m.start) + rep + q.substring(wgClose + 1)
              from = m.start + rep.length
          }
      }
    }
    q
  }

  private def rewriteScalarMisc(q0: String): String = {
    var q = q0
    // gamma/lgamma (r13, verdict #7): Lanczos natives, DOCUMENTED
    // TOLERANCE (|rel err| <= 1e-12, GammaToleranceSpec) rather than the
    // former loud refusal — no libm twin exists in the JVM, so these are
    // the repo's only approximate scalar twins (README divergence list)
    q = rewriteCalls(q, "gamma") {
      case Seq(a) => Some(s"__graft_gamma($a)")
      case _ => None
    }
    q = rewriteCalls(q, "lgamma") {
      case Seq(a) => Some(s"__graft_lgamma($a)")
      case _ => None
    }
    // ---- r13 hashbit barrage (measured twins) ----
    // sha256(x) -> Spark's sha2(x, 256); from_hex/from_base64 under
    // Spark's names; 1-arg encode/decode are DuckDB's VARCHAR<->BLOB
    // UTF-8 codecs (Spark's same-named builtins are 2-arg charset
    // forms — decode(b,'UTF-8') is exactly DuckDB's decode, and the
    // BINARY cast is exactly encode); xor -> the registered native
    // (the `^` operator is power in DuckDB, so no infix spelling
    // survives the dialect layer); unicode/ord are ascii with the
    // measured -1-on-empty edge
    q = rewriteCalls(q, "sha256") {
      case Seq(a) => Some(s"sha2($a, 256)")
      case _ => None
    }
    q = rewriteCalls(q, "from_hex") {
      case Seq(a) => Some(s"unhex($a)")
      case _ => None
    }
    q = rewriteCalls(q, "from_base64") {
      case Seq(a) => Some(s"unbase64($a)")
      case _ => None
    }
    q = rewriteCalls(q, "encode") {
      case Seq(a) => Some(s"CAST(($a) AS BINARY)")
      case _ => None // 2-arg form is Spark's own charset encode
    }
    q = rewriteCalls(q, "decode") {
      case Seq(a) => Some(s"decode($a, 'UTF-8')")
      case _ => None
    }
    q = rewriteCalls(q, "xor") {
      case Seq(a, b) => Some(s"__graft_xor($a, $b)")
      case _ => None
    }
    for (fn <- Seq("unicode", "ord")) q = rewriteCalls(q, fn) {
      case Seq(a) => Some(s"(CASE WHEN ($a) = '' THEN -1 ELSE ascii($a) END)")
      case _ => None
    }
    // chr is a full Unicode code point in DuckDB (chr(9731) = '☃');
    // Spark's chr is byte-range-only
    q = rewriteCalls(q, "chr") {
      case Seq(a) => Some(s"__graft_chr($a)")
      case _ => None
    }
    // ---- r12 scalar wave (measured twins; functions/ScalarWave) ----
    // even: round away from zero to the next even integer, DOUBLE
    // (even(2.5)=4, even(-2.5)=-4, even(2)=2 — sign/ceil composition)
    q = rewriteCalls(q, "even") {
      case Seq(a) => Some(
        s"(sign(CAST(($a) AS DOUBLE)) * ceil(abs(CAST(($a) AS DOUBLE)) / 2) * 2.0)")
      case _ => None
    }
    // age(a, b): canonical interval text via the componentwise borrow
    // algorithm measured against DuckDB (ScalarWave.age)
    q = rewriteCalls(q, "age") {
      case Seq(a, b) =>
        Some(s"__graft_age(CAST(($a) AS TIMESTAMP), CAST(($b) AS TIMESTAMP))")
      case _ => None // 1-arg form is current_date-relative: loud
    }
    // nextafter: Java Math.nextAfter is bit-exact with C++ std::nextafter
    q = rewriteCalls(q, "nextafter") {
      case Seq(a, b) =>
        Some(s"__graft_nextafter(CAST(($a) AS DOUBLE), CAST(($b) AS DOUBLE))")
      case _ => None
    }
    // full Damerau-Levenshtein over UTF-8 bytes (BIGINT, like DuckDB)
    q = rewriteCalls(q, "damerau_levenshtein") {
      case Seq(a, b) => Some(s"__graft_damerau($a, $b)")
      case _ => None
    }
    // bar(x, min, max[, width=80]): unicode block chart, measured
    // contract incl. the pad-to-width-BYTES quirk (ScalarWave.bar)
    q = rewriteCalls(q, "bar") { args =>
      if (args.length == 3 || args.length == 4) {
        val a4 = if (args.length == 3) args :+ "80" else args
        Some(s"__graft_bar(${a4.map(x => s"CAST(($x) AS DOUBLE)").mkString(", ")})")
      } else None
    }
    // ---- r12 wave 2 (gap probe against DuckDB 1.0) ----
    // 2-arg trim family: Spark's 2-arg ltrim/rtrim take (trimStr, str)
    // — REVERSED from DuckDB's (str, chars) — so the bare rename was a
    // silent wrong-value (ltrim('xxabc','x') returned ''). The ANSI
    // TRIM(LEADING/TRAILING/BOTH … FROM …) spelling is unambiguous.
    for ((fn, mode) <- Seq(("ltrim", "LEADING"), ("rtrim", "TRAILING"),
                           ("trim", "BOTH"), ("btrim", "BOTH")))
      q = rewriteCalls(q, fn) {
        case Seq(s, c) => Some(s"TRIM($mode ($c) FROM ($s))")
        case Seq(s) if fn == "btrim" => Some(s"TRIM(BOTH FROM ($s))")
        case _ => None
      }
    // left/right with NEGATIVE counts (r12 string differential):
    // DuckDB's left(s, -n) drops the LAST n characters and right(s, -n)
    // drops the FIRST n, where Spark returns '' — substring twins cover
    // both signs (Spark's substring with a negative start counts from
    // the end, which IS right(s, n))
    q = rewriteCalls(q, "left") {
      case Seq(s, n) => Some(
        s"(CASE WHEN ($n) >= 0 THEN substring(($s), 1, ($n)) " +
        s"ELSE substring(($s), 1, CAST(greatest(char_length($s) + ($n), 0) AS INT)) END)")
      case _ => None
    }
    q = rewriteCalls(q, "right") {
      case Seq(s, n) => Some(
        s"(CASE WHEN ($n) > 0 THEN substring(($s), -($n)) " +
        s"WHEN ($n) = 0 THEN '' " +
        s"ELSE substring(($s), CAST(-($n) + 1 AS INT)) END)")
      case _ => None
    }
    // len/length: BIGINT with type dispatch (codepoints / bytes /
    // element count) — Spark splits this across length()/size(), and
    // renameFns deliberately left these alone (array_length -> size is
    // already exact there)
    for (fn <- Seq("len", "length"))
      q = rewriteCalls(q, fn) {
        case Seq(a) => Some(s"__graft_len($a)")
        case _ => None
      }
    // gcd/lcm (+ long spellings): BIGINT over absolute values
    for ((fn, tgt) <- Seq(("gcd", "__graft_gcd"), ("lcm", "__graft_lcm"),
                          ("greatest_common_divisor", "__graft_gcd"),
                          ("least_common_multiple", "__graft_lcm")))
      q = rewriteCalls(q, fn) {
        case Seq(a, b) =>
          Some(s"$tgt(CAST(($a) AS BIGINT), CAST(($b) AS BIGINT))")
        case _ => None
      }
    // to_base(x, b) -> conv (uppercase digits on both engines)
    q = rewriteCalls(q, "to_base") {
      case Seq(a, b) => Some(s"conv(CAST(($a) AS BIGINT), 10, ($b))")
      case _ => None
    }
    // ISO week functions (Spark 4 dropped the weekofyear builtin;
    // EXTRACT's WEEK/YEAROFWEEK fields are the ISO twins)
    q = rewriteCalls(q, "weekofyear") {
      case Seq(a) => Some(s"extract(WEEK FROM ($a))")
      case _ => None
    }
    q = rewriteCalls(q, "yearweek") {
      case Seq(a) => Some(
        s"CAST(extract(YEAROFWEEK FROM ($a)) * 100 + extract(WEEK FROM ($a)) AS BIGINT)")
      case _ => None
    }
    // interval constructors -> Spark ANSI interval makers (arithmetic
    // composes; note DATE + day-time interval yields TIMESTAMP in Spark
    // where DuckDB keeps DATE for whole-day intervals — cast at the edge)
    for ((fn, mk) <- Seq(
        ("to_years", (n: String) => s"make_ym_interval(($n), 0)"),
        ("to_months", (n: String) => s"make_ym_interval(0, ($n))"),
        ("to_weeks", (n: String) => s"make_dt_interval(($n) * 7)"),
        ("to_days", (n: String) => s"make_dt_interval(($n))"),
        ("to_hours", (n: String) => s"make_dt_interval(0, ($n))"),
        ("to_minutes", (n: String) => s"make_dt_interval(0, 0, ($n))"),
        ("to_seconds", (n: String) => s"make_dt_interval(0, 0, 0, ($n))"),
        ("to_milliseconds", (n: String) => s"make_dt_interval(0, 0, 0, ($n) / 1000.0)"),
        ("to_microseconds", (n: String) => s"make_dt_interval(0, 0, 0, ($n) / 1000000.0)")))
      q = rewriteCalls(q, fn) {
        case Seq(a) => Some(mk(a))
        case _ => None
      }
    // 3-arg date_sub/datesub: SIGNED count of COMPLETE units from a to
    // b, truncating toward zero (measured: date_sub('hour',
    // 00:30, 05:00) = 4; 'day' b<a gives negative). Exact units via
    // epoch micros + integral division; month family via
    // months_between's complete-month integer part (cast truncates
    // toward zero). Other units stay loud.
    for (fn <- Seq("date_sub", "datesub"))
      q = rewriteCalls(q, fn) { args =>
        if (args.length != 3) None
        else quotedLiteral(args(0)).flatMap { unit =>
          val (a, b) = (args(1), args(2))
          def viaMicros(w: Long) = Some(
            s"((unix_micros(CAST(($b) AS TIMESTAMP)) - " +
            s"unix_micros(CAST(($a) AS TIMESTAMP))) div ${w}L)")
          unit.toLowerCase(java.util.Locale.ROOT).stripSuffix("s") match {
            case "second" => viaMicros(1000000L)
            case "minute" => viaMicros(60000000L)
            case "hour"   => viaMicros(3600000000L)
            case "day"    => viaMicros(86400000000L)
            case "week"   => viaMicros(7L * 86400000000L)
            // complete months need DuckDB's add-months clamp AND
            // time-of-day (months_between ignores time when the days
            // match — r12 date differential): native MonthsComplete
            case "month"  => Some(
              s"__graft_months_complete(CAST(($a) AS TIMESTAMP), CAST(($b) AS TIMESTAMP))")
            case "quarter" => Some(
              s"(__graft_months_complete(CAST(($a) AS TIMESTAMP), CAST(($b) AS TIMESTAMP)) div 3)")
            case "year"   => Some(
              s"(__graft_months_complete(CAST(($a) AS TIMESTAMP), CAST(($b) AS TIMESTAMP)) div 12)")
            case _ => None
          }
        }
      }
    // list_reduce (+ the reduce/array_reduce alias spellings, 2-arg
    // only — Spark's own 3/4-arg reduce passes through): fold without
    // an init — seed with element 1, reduce the tail (DuckDB errors on
    // an empty list; this renders NULL — the one divergence, noted here
    // over a fabricated error). r18: the 3-parameter indexed lambda
    // (a, b, i) carries DuckDB's 1-based MERGE-STEP counter (measured
    // [1,2,3] (a,b,i) -> a+b*i = 9: steps (1,2,1)→3, (3,3,2)→9) — the
    // tail zips with its step number and the body's b/i references
    // substitute into the struct fields.
    locally {
      def reduceRw(args: Seq[String]): Option[String] = args match {
        case Seq(l, lam0) => multiParamLambda(lam0) match {
          case Some((Seq(a, b, i), body)) =>
            val bodyS = substIdent(substIdent(body, b, "(__gs.x)"), i, "(__gs.i)")
            Some(s"reduce(transform(slice(($l), 2, greatest(size(($l)) - 1, 0)), " +
              s"(__gx, __gi) -> named_struct('x', __gx, 'i', __gi + 1)), " +
              s"try_element_at(($l), 1), ($a, __gs) -> ($bodyS))")
          case _ => Some(
            s"reduce(slice(($l), 2, greatest(size(($l)) - 1, 0)), " +
            s"try_element_at(($l), 1), ${lam0.trim})")
        }
        case _ => None
      }
      q = rewriteCalls(q, "list_reduce")(reduceRw)
      q = rewriteCalls(q, "array_reduce")(reduceRw)
      q = rewriteCalls(q, "reduce") {
        case args @ Seq(_, _) => reduceRw(args)
        case _ => None // Spark's 3/4-arg reduce — not DuckDB dialect
      }
    }
    // list_aggregate / list_aggr: name-dispatched aggregation over the
    // list (r18: sum/avg route to the DECIMAL-aware natives, string_agg
    // joins non-NULLs with the separator, first/last are 1-based
    // element_at, product is DuckDB's NULL-skipping DOUBLE fold —
    // all measured; unknown names stay loud)
    locally {
      def aggRw(args: Seq[String]): Option[String] = args match {
        case Seq(l, name) => quotedLiteral(name).flatMap {
          case "min" => Some(s"array_min($l)")
          case "max" => Some(s"array_max($l)")
          case "count" => Some(
            s"CAST(size(filter(($l), __la -> __la IS NOT NULL)) AS BIGINT)")
          case "sum" => Some(s"__graft_list_sum($l)")
          case "avg" | "mean" => Some(s"__graft_list_avg($l)")
          case "first" => Some(s"try_element_at(($l), 1)")
          // any_value is first NON-NULL (measured: [NULL,2] -> 2, while
          // 'first' keeps the NULL) — same shape as list_any_value below
          case "any_value" => Some(
            s"try_element_at(filter(($l), __lav -> __lav IS NOT NULL), 1)")
          case "last" => Some(s"try_element_at(($l), size(($l)))")
          case "product" => Some(listProductSql(l))
          case "string_agg" => Some(listStringAggSql(l, "','"))
          case _ => None
        }
        case Seq(l, name, extra) => quotedLiteral(name).flatMap {
          case "string_agg" => Some(listStringAggSql(l, extra.trim))
          case _ => None
        }
        case _ => None
      }
      q = rewriteCalls(q, "list_aggregate")(aggRw)
      q = rewriteCalls(q, "list_aggr")(aggRw)
    }
    // list_count / list_product — the direct spellings of the same
    q = rewriteCalls(q, "list_count") {
      case Seq(l) => Some(
        s"CAST(size(filter(($l), __la -> __la IS NOT NULL)) AS BIGINT)")
      case _ => None
    }
    q = rewriteCalls(q, "list_product") {
      case Seq(l) => Some(listProductSql(l))
      case _ => None
    }
    // list_any_value: first non-NULL element (NULL when none)
    q = rewriteCalls(q, "list_any_value") {
      case Seq(l) =>
        Some(s"try_element_at(filter(($l), __lav -> __lav IS NOT NULL), 1)")
      case _ => None
    }
    // generate_subscripts(l, 1) -> 1-based index stream. Spark's
    // sequence(1, 0) steps BACKWARD ([1, 0]) — slice to size() so an
    // empty list yields zero rows like DuckDB, not two phantom ones
    q = rewriteCalls(q, "generate_subscripts") {
      case Seq(l, dim) if dim.trim == "1" =>
        Some(s"explode(slice(sequence(1, greatest(size(($l)), 1)), 1, size(($l))))")
      case _ => None
    }
    q = rewriteCalls(q, "array_reverse") {
      case Seq(a) => Some(s"reverse($a)")
      case _ => None
    }
    q = rewriteCalls(q, "regexp_split_to_array") {
      case Seq(s, p) => Some(s"split($s, $p)")
      case _ => None
    }
    // to_hex: uppercase digits on both engines (oracle-measured)
    q = rewriteCalls(q, "to_hex") { args =>
      Some(s"hex(${args.mkString(", ")})")
    }
    // list_unique = COUNT of distinct non-NULL elements (not the list)
    q = rewriteCalls(q, "list_unique") {
      case Seq(a) =>
        Some(s"size(array_distinct(filter(($a), __lu -> __lu IS NOT NULL)))")
      case _ => None
    }
    // isfinite / isinf over DOUBLE (NaN is neither finite nor infinite)
    q = rewriteCalls(q, "isfinite") { case Seq(a) =>
      Some(s"(NOT isnan(($a)) AND abs(($a)) < CAST('Infinity' AS DOUBLE))")
      case _ => None
    }
    q = rewriteCalls(q, "isinf") { case Seq(a) =>
      Some(s"(abs(($a)) = CAST('Infinity' AS DOUBLE))")
      case _ => None
    }
    // r16 printf/format barrage: both route to the measured-semantics
    // fmt-layer natives (functions/DuckFormat) — Spark's builtin printf
    // is java.util.Formatter, which silently diverges on %b (boolean vs
    // binary), %.0f tie rounding, %g zero-stripping and nan casing
    q = rewriteCalls(q, "printf") { args =>
      if (args.nonEmpty) Some(s"__graft_printf(${args.mkString(", ")})") else None
    }
    q = rewriteCalls(q, "format") { args =>
      if (args.nonEmpty) Some(s"__graft_format(${args.mkString(", ")})") else None
    }
    // like_escape family (r16 likeglob barrage): explicit-escape LIKE
    // twins; Spark's ESCAPE clause has identical semantics (only the
    // named char escapes). An empty escape string is DuckDB's plain
    // LIKE; a NULL escape is NULL; multi-char escapes stay loud.
    for ((fn, op) <- Seq(("like_escape", "LIKE"), ("not_like_escape", "NOT LIKE"),
                         ("ilike_escape", "ILIKE"), ("not_ilike_escape", "NOT ILIKE")))
      q = rewriteCalls(q, fn) {
        case Seq(s, p, e) =>
          val et = e.trim
          if (et.equalsIgnoreCase("NULL")) Some("CAST(NULL AS BOOLEAN)")
          else quotedLiteral(et).flatMap { esc =>
            if (esc.isEmpty) Some(s"(($s) $op ($p))")
            else if (esc.length == 1) Some(s"(($s) $op ($p) ESCAPE $et)")
            else None
          }
        case _ => None
      }
    // character-set similarity (DuckDB string metrics)
    q = rewriteCalls(q, "jaccard") {
      case Seq(a, b) => Some(
        s"(CAST(size(array_intersect(split(($a), ''), split(($b), ''))) AS DOUBLE) / " +
        s"size(array_union(split(($a), ''), split(($b), ''))))")
      case _ => None
    }
    // CTE materialization hints: Spark decides its own materialization,
    // the hint itself has no semantic content — strip it
    q = mapOutsideLiterals(q)(
      _.replaceAll("(?i)\\bAS\\s+(?:NOT\\s+)?MATERIALIZED\\s*\\(", "AS ("))
    // quantified comparisons: the two idiomatic forms with exact Spark
    // twins (`= ANY` ≡ IN, `<> ALL` ≡ NOT IN); other operator+quantifier
    // pairs have no Spark spelling and stay loud
    q = rewriteQuantified(q)
    // (first/last with in-call ORDER BY are rewritten in the aggregate
    // wave below via the NULLS-LAST struct-sort — the old min_by/max_by
    // shortcut here skipped NULL keys, diverging from DuckDB; r16 ADVICE)
    // ---- aggregate-surface wave (r11 barrage #3) ----
    // DuckDB's FILTER shorthand omits WHERE: `agg(...) FILTER (pred)`.
    // Only a FILTER directly after a ')' is the clause — a bare
    // `filter(list, lambda)` is the higher-order function and must not
    // be touched (checked via the preceding non-space character)
    q = {
      val re = """(?i)\bFILTER\s*\(\s*""".r
      val sb = new StringBuilder
      var last = 0
      val lit = literalMask(q)
      for (m <- re.findAllMatchIn(q)) if (!lit(m.start)) {
        var p = m.start - 1
        while (p >= 0 && q.charAt(p).isWhitespace) p -= 1
        val afterParen = p >= 0 && q.charAt(p) == ')'
        val hasWhere = q.regionMatches(true, m.end, "WHERE", 0, 5)
        if (afterParen && !hasWhere) {
          sb.append(q.substring(last, m.end)).append("WHERE ")
          last = m.end
        }
      }
      if (last == 0) q else { sb.append(q.substring(last)); sb.toString }
    }
    // geometric mean: exp of the mean log — exact for the positive
    // domain the function is defined on
    q = rewriteCalls(q, "geomean") {
      case Seq(a) => Some(s"exp(avg(ln($a)))")
      case _ => None
    }
    q = rewriteCalls(q, "geometric_mean") {
      case Seq(a) => Some(s"exp(avg(ln($a)))")
      case _ => None
    }
    // Kahan-compensated variants: Spark's sum/avg accumulate in their
    // own (parallel) order anyway, so the fused spelling maps to the
    // plain aggregate — differences live below double print precision
    q = rewriteCalls(q, "fsum") { case Seq(a) => Some(s"sum($a)"); case _ => None }
    q = rewriteCalls(q, "favg") { case Seq(a) => Some(s"avg($a)"); case _ => None }
    q = rewriteCalls(q, "kahan_sum") { case Seq(a) => Some(s"sum($a)"); case _ => None }
    // DuckDB's 2-arg min/max return the n smallest/largest AS A LIST
    // (ascending/descending) — collect + sort + slice, the same
    // per-group materialization DuckDB performs
    q = rewriteCalls(q, "min") {
      case Seq(a, n) => Some(s"slice(array_sort(collect_list($a)), 1, $n)")
      case _ => None
    }
    q = rewriteCalls(q, "max") {
      case Seq(a, n) => Some(s"slice(reverse(array_sort(collect_list($a))), 1, $n)")
      case _ => None
    }
    // in-call ORDER BY on COMMUTATIVE aggregates is a determinism hint
    // DuckDB accepts; the result is order-independent, so it drops
    // (order-SENSITIVE aggregates — string_agg, list/collect, first/last
    // — are handled by their own rewrites above and keep the ordering)
    for (fn <- Seq("sum", "avg", "min", "max", "count", "bool_and",
        "bool_or", "bit_and", "bit_or", "bit_xor", "product"))
      q = rewriteCalls(q, fn) {
        case Seq(one) =>
          val m = """(?is)^(.*?)\s+ORDER\s+BY\s+.+$""".r
          m.findFirstMatchIn(one).map(mm => s"$fn(${mm.group(1).trim})")
        case _ => None
      }
    // r16 aggdepth barrage: in-call ORDER BY on the order-SENSITIVE
    // collectors. list/array_agg sort (key, value) pairs post-collect
    // (the 'n' flag reproduces DuckDB's NULLS-LAST default; a DESC key
    // reverses after the transform, so NULL keys land first there — a
    // pinned divergence only when both DESC and NULL keys appear).
    // first/last(x ORDER BY k) are the min_by/max_by argmin/argmax.
    def inCallOrderBy(one: String): Option[(String, String, Boolean)] = {
      val (body, obTail) = splitTopLevelKeyword(one, "ORDER")
      obTail.flatMap(t => """(?is)^BY\b(.*)$""".r.findFirstMatchIn(t)
        .map(_.group(1).trim)).map { ob0 =>
        val dm = """(?is)^(.*?)\s+(ASC|DESC)$""".r.findFirstMatchIn(ob0)
        val key = dm.map(_.group(1).trim).getOrElse(ob0)
        val desc = dm.exists(_.group(2).equalsIgnoreCase("DESC"))
        (body.trim, key, desc)
      }
    }
    // NULLS LAST in BOTH directions (measured r17: list(v ORDER BY k
    // DESC) over keys 1,2,NULL answers [20,10,30] — the old
    // reverse(sorted) put the NULL-key row FIRST). The comparator only
    // touches the key, so v may be any type.
    for (fn <- Seq("collect_list", "array_agg"))
      q = rewriteCalls(q, fn) {
        case Seq(one) => inCallOrderBy(one).map { case (v, k, desc) =>
          val (lt, gt) = if (desc) ("1", "-1") else ("-1", "1")
          s"transform(array_sort(collect_list(named_struct(" +
          s"'n', ($k) IS NULL, 'k', $k, 'v', $v)), (l, r) -> " +
          s"CASE WHEN l.n AND r.n THEN 0 WHEN l.n THEN 1 WHEN r.n THEN -1 " +
          s"WHEN l.k < r.k THEN $lt WHEN l.k > r.k THEN $gt ELSE 0 END), " +
          s"__ob -> __ob.v)"
        }
        case _ => None
      }
    // first/last(v ORDER BY k): DuckDB's default null order is NULLS
    // LAST for BOTH directions, so last() answers the NULL-key row's
    // value (measured r17: last(v ORDER BY k) over keys 1,2,NULL = the
    // NULL-key v, where the old max_by rewrite skipped NULL keys and
    // answered the max-key v). Struct-sort with an explicit comparator
    // that orders (k IS NULL) ASC then k asc/desc — the comparator only
    // touches the key, so v may be any type; ties are
    // implementation-order, same as DuckDB's unstable sort.
    def firstLastSorted(v: String, k: String, desc: Boolean): String = {
      val (lt, gt) = if (desc) ("1", "-1") else ("-1", "1")
      s"transform(array_sort(collect_list(named_struct(" +
      s"'n', ($k) IS NULL, 'k', $k, 'v', $v)), (l, r) -> " +
      s"CASE WHEN l.n AND r.n THEN 0 WHEN l.n THEN 1 WHEN r.n THEN -1 " +
      s"WHEN l.k < r.k THEN $lt WHEN l.k > r.k THEN $gt ELSE 0 END), " +
      s"__fl -> __fl.v)"
    }
    q = rewriteCalls(q, "first") {
      case Seq(one) => inCallOrderBy(one).map { case (v, k, desc) =>
        s"try_element_at(${firstLastSorted(v, k, desc)}, 1)" }
      case _ => None
    }
    q = rewriteCalls(q, "last") {
      case Seq(one) => inCallOrderBy(one).map { case (v, k, desc) =>
        s"try_element_at(${firstLastSorted(v, k, desc)}, -1)" }
      case _ => None
    }
    // Kahan float aggregates: DOUBLE sums regardless of input type
    // (measured favg(DECIMAL) renders the DOUBLE 0.9600000000000001
    // where avg(DECIMAL) is exact) — compensated summation changes
    // nothing at these magnitudes, the TYPE is the contract
    for (fn <- Seq("fsum", "kahan_sum", "sumkahan"))
      q = rewriteCalls(q, fn) {
        case Seq(a) => Some(s"sum(CAST(($a) AS DOUBLE))")
        case _ => None
      }
    q = rewriteCalls(q, "favg") {
      case Seq(a) => Some(s"avg(CAST(($a) AS DOUBLE))")
      case _ => None
    }
    // sem = standard error of the mean over the POPULATION stddev
    // (measured: sem(i) = stddev_pop(i)/sqrt(n), NOT stddev_samp)
    q = rewriteCalls(q, "sem") {
      case Seq(a) =>
        Some(s"(stddev_pop(CAST(($a) AS DOUBLE)) / sqrt(count($a)))")
      case _ => None
    }
    // any_value: DuckDB answers the first NON-NULL value (Spark's
    // 1-arg any_value respects nulls; the 2-arg form ignores them)
    q = rewriteCalls(q, "any_value") {
      case Seq(a) => Some(s"any_value($a, true)")
      case _ => None
    }
    // regr_avgx/avgy are DOUBLE in DuckDB regardless of input type;
    // Spark keeps a DECIMAL input DECIMAL (measured 2.847143 vs
    // 2.847142857142857 — a silent render/precision divergence)
    for (fn <- Seq("regr_avgx", "regr_avgy"))
      q = rewriteCalls(q, fn) {
        case Seq(y, x) => Some(
          s"$fn(CAST(($y) AS DOUBLE), CAST(($x) AS DOUBLE))")
        case _ => None
      }
    // bitstring_agg(x, lo, hi) over the '0'/'1' BIT carrier: bit v-lo
    // set, width hi-lo+1 (measured). The no-bounds form needs column
    // statistics DuckDB itself errors on for ad-hoc input — stays loud.
    // A value outside [lo, hi] raises DuckDB's Out of Range error
    // (measured r17: "Value 7 is outside of provided min and max range
    // (2 <-> 5)" — the old rewrite silently marked '0'); all-NULL input
    // answers NULL, not an all-zero string (also measured).
    q = rewriteCalls(q, "bitstring_agg") {
      case Seq(a, lo, hi) =>
        def oor(v: String) =
          s"raise_error(concat('Out of Range Error: Value ', " +
          s"CAST($v AS STRING), ' is outside of provided min and max " +
          s"range (', CAST(($lo) AS STRING), ' <-> ', " +
          s"CAST(($hi) AS STRING), ')'))"
        Some(
        s"CASE WHEN count($a) = 0 THEN CAST(NULL AS STRING) " +
        s"WHEN min($a) < ($lo) THEN ${oor(s"min($a)")} " +
        s"WHEN max($a) > ($hi) THEN ${oor(s"max($a)")} " +
        s"ELSE array_join(transform(sequence(($lo), ($hi)), " +
        s"__bs -> IF(array_contains(collect_list($a), __bs), '1', '0')), '') END")
      case _ => None
    }
    // profiling aggregates -> the native registrations (r12): histogram
    // builds the value->count MAP (keys ascending, bounded+loud),
    // entropy is Shannon log2 over the same counts, mad is the
    // interpolated median-of-deviations, product multiplies exactly
    // (sign/zero/NULL semantics measured against DuckDB)
    q = rewriteCalls(q, "histogram") {
      case Seq(a) => Some(s"__graft_histogram($a)")
      case _ => None
    }
    q = rewriteCalls(q, "entropy") {
      case Seq(a) => Some(s"__graft_entropy($a)")
      case _ => None
    }
    q = rewriteCalls(q, "mad") {
      // raw input (not CAST AS DOUBLE): MadAgg dispatches on the type —
      // DECIMAL inputs run the exact BigDecimal pipeline (r12)
      case Seq(a) => Some(s"__graft_mad($a)")
      case _ => None
    }
    q = rewriteCalls(q, "product") {
      case Seq(a) => Some(s"__graft_product(CAST(($a) AS DOUBLE))")
      case _ => None
    }
    // r12 aggregate differential: DuckDB's quantile family is
    // DECIMAL-aware and type-preserving in ways Spark's percentile
    // twins are not (quantile_disc returns the INPUT type; DECIMAL
    // quantile_cont interpolates exactly then truncates to the input
    // scale; median is cont for non-decimal, disc for DECIMAL) — all
    // route to the QuantileDuck natives (functions/DecimalAggs)
    // ordered-set spellings fold onto the quantile/mode twins FIRST so
    // the list-argument expansion below sees them (r16 aggdepth)
    q = rewriteWithinGroup(q)
    for ((fn, tgt) <- Seq(("quantile_cont", "__graft_quantile_cont"),
                          ("quantile_disc", "__graft_quantile_disc"),
                          ("quantile", "__graft_quantile_disc")))
      q = rewriteCalls(q, fn) {
        case Seq(a, p0) =>
          val p = p0.trim
          // list-argument quantiles answer a LIST, one entry per
          // fraction, each carrying the scalar form's type semantics
          // (measured quantile_cont(d, [0.1, 0.9]) keeps DECIMAL
          // rendering per element)
          if (p.startsWith("[") && p.endsWith("]")) {
            val parts = splitTopCommas(p.substring(1, p.length - 1))
              .map(_.trim).filter(_.nonEmpty)
            // DuckDB refuses mixed-sign fraction lists (measured r17:
            // "QUANTILE parameters must have consistent signs"); the
            // per-element expansion below would silently accept them
            val lits = parts.flatMap(pp => scala.util.Try(pp.toDouble).toOption)
            if (lits.length == parts.length &&
                lits.exists(_ < 0d) && lits.exists(_ > 0d))
              throw new IllegalArgumentException(
                "QUANTILE parameters must have consistent signs")
            Some("array(" + parts.map(pp => s"$tgt($a, $pp)")
              .mkString(", ") + ")")
          } else Some(s"$tgt($a, $p)")
        case _ => None
      }
    for (fn <- Seq("median", "mean"))
      q = rewriteCalls(q, fn) {
        case Seq(a) =>
          if (fn == "median") Some(s"__graft_median($a)")
          else Some(s"__graft_avg($a)")
        case _ => None
      }
    // avg(DECIMAL): DuckDB sums EXACTLY and converts to DOUBLE only at
    // the division (avg of three 0.1s is exactly 0.1); Spark's DECIMAL
    // avg truncates the quotient at scale+4 — a silent precision loss.
    // AvgDuck dispatches on the input type (exact sums for
    // decimal/integral, plain double sums for floating inputs).
    q = rewriteCalls(q, "avg") {
      case Seq(a) => Some(s"__graft_avg($a)")
      case _ => None
    }
    // skewness/kurtosis: DuckDB reports the BIAS-CORRECTED sample
    // statistics where Spark reports population g1/g2 (measured:
    // duck_skew = g1 * sqrt(n(n-1))/(n-2); duck_kurt =
    // ((n+1)g2 + 6)(n-1)/((n-2)(n-3)); NULL when the denominator
    // vanishes — n<=2 / n<=3, matching DuckDB). __graft_skew/__graft_kurt
    // are Spark's own aggregates under unrewritable names so the
    // composition cannot re-trigger this pass.
    q = rewriteCalls(q, "skewness") {
      case Seq(a) =>
        val n = s"CAST(count(($a)) AS DOUBLE)"
        Some(s"__graft_div(__graft_skew(CAST(($a) AS DOUBLE)) * " +
          s"sqrt($n * ($n - 1)), $n - 2)")
      case _ => None
    }
    q = rewriteCalls(q, "kurtosis") {
      case Seq(a) =>
        val n = s"CAST(count(($a)) AS DOUBLE)"
        Some(s"__graft_div((($n + 1) * __graft_kurt(CAST(($a) AS DOUBLE)) + 6) * " +
          s"($n - 1), ($n - 2) * ($n - 3))")
      case _ => None
    }
    // time_bucket (r12): the TimescaleDB-style bucketing DuckDB ships.
    // Measured semantics: sub-day widths floor in epoch MICROS (exact
    // integer math, floor-toward-minus-infinity via pmod); widths that
    // are whole days (including '48 hours') count days from the origin
    // Monday DATE '2000-01-03'; month-based widths count whole months
    // from DATE '2000-01-01'. An INTERVAL third arg shifts in, buckets,
    // shifts back. Result is TIMESTAMP (DuckDB keeps DATE for DATE
    // inputs on day/month widths — divergence accepted over a silent
    // wrong value; a runtime type dispatch has no textual spelling).
    // Non-literal widths and the TIMESTAMP-origin form stay LOUD.
    q = rewriteCalls(q, "time_bucket") { args =>
      def bucket(w: String, ts: String): Option[String] =
        parseIntervalLiteral(w).flatMap { case (months, micros) =>
          if (months > 0 && micros == 0L) {
            val mb = s"CAST(months_between(trunc(CAST(($ts) AS DATE), 'MM'), " +
              "DATE '2000-01-01') AS BIGINT)"
            Some(s"CAST(add_months(DATE '2000-01-01', " +
              s"CAST(($mb - pmod($mb, $months)) AS INT)) AS TIMESTAMP)")
          } else if (months == 0L && micros > 0L && micros % 86400000000L == 0L) {
            val d = micros / 86400000000L
            val dd = s"CAST(datediff(CAST(($ts) AS DATE), DATE '2000-01-03') AS BIGINT)"
            Some(s"CAST(date_add(DATE '2000-01-03', " +
              s"CAST(($dd - pmod($dd, $d)) AS INT)) AS TIMESTAMP)")
          } else if (months == 0L && micros > 0L) {
            val us = s"unix_micros(CAST(($ts) AS TIMESTAMP))"
            Some(s"timestamp_micros($us - pmod($us, ${micros}L))")
          } else None
        }
      args match {
        case Seq(w, ts) => bucket(w, ts)
        case Seq(w, ts, off)
            if off.trim.toUpperCase(java.util.Locale.ROOT).startsWith("INTERVAL") &&
              parseIntervalLiteral(off).isDefined =>
          bucket(w, s"(($ts) - ($off))").map(b => s"($b + ($off))")
        case _ => None
      }
    }
    // mismatches is DuckDB's alias for hamming — rewrite the alias to
    // the canonical name FIRST so the hamming pass below expands both
    q = rewriteCalls(q, "mismatches") {
      case Seq(a, b) => Some(s"hamming($a, $b)")
      case _ => None
    }
    // hamming: DuckDB errors on unequal lengths — keep that loudness
    q = rewriteCalls(q, "hamming") {
      case Seq(a, b) => Some(
        s"(CASE WHEN length(($a)) <> length(($b)) THEN " +
        s"CAST(raise_error('hamming: strings must be of equal length') AS BIGINT) " +
        s"ELSE size(filter(zip_with(split(($a), ''), split(($b), ''), " +
        s"(__hx, __hy) -> __hx <> __hy), __hz -> __hz)) END)")
      case _ => None
    }
    // embedding-list math (list_dot_product / list_cosine_similarity /
    // list_distance) routes to the codegen'd DuckVecMath natives via
    // the rename table (r16 listmath barrage: the old aggregate/
    // zip_with compositions silently NULL'd dimension mismatches and
    // errored on DuckDB's measured zero-vector cosine of -1.0)
    q
  }

  /** DuckDB date_part/extract fields with no — or DIVERGENT — Spark
    * twin (r12 date differential barrage, all measured): `dow` is
    * Sunday=0 where Spark's dayofweek is Sunday=1 (a silent off-by-one
    * before this), isodow Monday=1..Sunday=7, century/millennium =
    * ceil(year/100|1000), decade = trunc(year/10), epoch = DOUBLE
    * seconds, yearweek = isoyear*100 + isoweek.
    */
  private def dateFieldExpr(field0: String, x: String): Option[String] = {
    val fl = field0.toLowerCase(java.util.Locale.ROOT)
    val field = if (fl.length > 2 && fl.endsWith("s")) fl.dropRight(1) else fl
    field match {
      case "dow" | "dayofweek" =>
        Some(s"CAST(dayofweek(CAST(($x) AS DATE)) - 1 AS BIGINT)")
      case "isodow" =>
        Some(s"CAST(pmod(dayofweek(CAST(($x) AS DATE)) + 5, 7) + 1 AS BIGINT)")
      case "century" =>
        Some(s"CAST(ceil(year(CAST(($x) AS DATE)) / 100.0) AS BIGINT)")
      case "millennium" =>
        Some(s"CAST(ceil(year(CAST(($x) AS DATE)) / 1000.0) AS BIGINT)")
      case "decade" =>
        Some(s"CAST(year(CAST(($x) AS DATE)) div 10 AS BIGINT)")
      case "epoch" =>
        // CAST to DOUBLE first: this emission lands AFTER the `/`
        // operator pass, and Spark's BIGINT / DECIMAL is DECIMAL
        Some(s"(CAST(unix_micros(CAST(($x) AS TIMESTAMP)) AS DOUBLE) / 1000000.0)")
      case "yearweek" =>
        Some(s"CAST(extract(YEAROFWEEK FROM ($x)) * 100 + " +
          s"extract(WEEK FROM ($x)) AS BIGINT)")
      // Spark's second is DECIMAL(8,6) ('46.000000'); DuckDB's is the
      // whole-second BIGINT — and DuckDB's millisecond/microsecond
      // include the seconds part (46.75s -> 46750 ms)
      case "second" | "sec" =>
        Some(s"CAST(second(CAST(($x) AS TIMESTAMP)) AS BIGINT)")
      case "millisecond" =>
        Some(s"((unix_micros(CAST(($x) AS TIMESTAMP)) - " +
          s"unix_micros(date_trunc('MINUTE', CAST(($x) AS TIMESTAMP)))) div 1000L)")
      case "microsecond" =>
        Some(s"(unix_micros(CAST(($x) AS TIMESTAMP)) - " +
          s"unix_micros(date_trunc('MINUTE', CAST(($x) AS TIMESTAMP))))")
      case "dayofyear" | "doy" =>
        Some(s"CAST(dayofyear(CAST(($x) AS DATE)) AS BIGINT)")
      case _ => None // everything else: Spark's own date_part/extract agrees
    }
  }

  private def rewriteDateParts(q0: String): String = {
    def f(args: Seq[String]): Option[String] = args match {
      case Seq(p, x) => quotedLiteral(p).flatMap(fld => dateFieldExpr(fld, x))
      case _ => None
    }
    var q = rewriteCalls(rewriteCalls(q0, "date_part")(f), "datepart")(f)
    q = rewriteCalls(q, "extract") {
      case Seq(one) =>
        """(?is)^\s*(\w+)\s+FROM\s+(.+)$""".r.findFirstMatchIn(one)
          .flatMap(m => dateFieldExpr(m.group(1), m.group(2)))
      case _ => None
    }
    q
  }

  /** DuckDB date_trunc returns DATE for day-or-coarser units and
    * TIMESTAMP only for sub-day ones (measured) — Spark's date_trunc is
    * always TIMESTAMP, so `date_trunc('month', ts)` rendered
    * '2004-08-01 00:00:00' where DuckDB says '2004-08-01'. Map the
    * coarse units onto Spark's DATE-returning trunc()/CAST; sub-day
    * units keep Spark's date_trunc (types already agree).
    */
  private def rewriteDateTrunc(q0: String): String =
    rewriteCalls(q0, "date_trunc") {
      case Seq(u, x) => quotedLiteral(u).flatMap { unit =>
        // r13 tz: on a TIMESTAMPTZ input DuckDB's date_trunc KEEPS the
        // type (measured '2024-03-10 00:00:00+00'), while naive inputs
        // return DATE for day-and-coarser. tz-ness only exists
        // textually through the tag calls, so dispatch on them.
        val tz = x.contains("__graft_tstz") || x.contains("__graft_at_tz")
        unit.toLowerCase(java.util.Locale.ROOT) match {
          case _ if tz => None // Spark's date_trunc: TIMESTAMP in/out, tag kept
          case "day" | "d" | "dd" => Some(s"CAST(($x) AS DATE)")
          case "week" => Some(s"trunc(CAST(($x) AS DATE), 'WEEK')")
          case "month" | "mon" | "mm" => Some(s"trunc(CAST(($x) AS DATE), 'MONTH')")
          case "quarter" => Some(s"trunc(CAST(($x) AS DATE), 'QUARTER')")
          case "year" | "y" | "yy" | "yyyy" => Some(s"trunc(CAST(($x) AS DATE), 'YEAR')")
          case _ => None
        }
      }
      case _ => None
    }

  /** date_diff = signed count of unit-BOUNDARY CROSSINGS from a to b
    * (r12: extended from the day-only mapping to every unit, each
    * measured: date_diff('week', Wed, next-Mon) = 1 because one Monday
    * boundary is crossed; 'month' Jan-31 -> Feb-1 = 1; 'second' between
    * two DATEs is 86400 per day — a DIFFERENT convention from
    * date_sub's complete-intervals). Exact units via unit-truncation +
    * epoch arithmetic; calendar units via year/month/quarter algebra.
    */
  private def rewriteDateDiff(q: String): String = {
    def f(args: Seq[String]): Option[String] = args match {
      case Seq(part, a, b) => quotedLiteral(part).flatMap { p0 =>
        val pl = p0.toLowerCase(java.util.Locale.ROOT)
        val p = if (pl.length > 2 && pl.endsWith("s")) pl.dropRight(1) else pl
        def ymd(expr: String => String) =
          Some(s"(${expr(b)} - ${expr(a)})")
        def bound(u: String, w: Long) = Some(
          s"((unix_micros(date_trunc('$u', CAST(($b) AS TIMESTAMP))) - " +
          s"unix_micros(date_trunc('$u', CAST(($a) AS TIMESTAMP)))) div ${w}L)")
        p match {
          case "day" | "d" | "dd" => Some(s"datediff($b, $a)")
          case "week" => Some(
            s"(datediff(trunc(CAST(($b) AS DATE), 'WEEK'), " +
            s"trunc(CAST(($a) AS DATE), 'WEEK')) div 7)")
          case "month" | "mon" =>
            ymd(x => s"(year(CAST(($x) AS DATE)) * 12 + month(CAST(($x) AS DATE)))")
          case "quarter" =>
            ymd(x => s"(year(CAST(($x) AS DATE)) * 4 + quarter(CAST(($x) AS DATE)))")
          case "year" | "y" | "yy" | "yyyy" =>
            ymd(x => s"year(CAST(($x) AS DATE))")
          case "hour" | "hr" => bound("hour", 3600000000L)
          case "minute" | "min" => bound("minute", 60000000L)
          case "second" | "sec" => bound("second", 1000000L)
          case "millisecond" | "ms" =>
            ymd(x => s"(unix_micros(CAST(($x) AS TIMESTAMP)) div 1000L)")
          case "microsecond" | "us" =>
            ymd(x => s"unix_micros(CAST(($x) AS TIMESTAMP))")
          case _ => None
        }
      }
      case _ => None
    }
    rewriteCalls(rewriteCalls(q, "date_diff")(f), "datediff")(f)
  }

  /** string_split(s, 'sep') -> split(s, '\\Qsep\\E'): DuckDB's separator
    * is a LITERAL; Spark's split takes a regex, so the separator is
    * \Q-quoted (the backslashes doubled again for Spark's backslash-
    * escaped string literals). Non-literal separators are left unchanged
    * (loud error beats silently regex-interpreting a literal).
    */
  private def rewriteStringSplit(q: String): String = {
    def f(args: Seq[String]): Option[String] = args match {
      case Seq(s, sep) => quotedLiteral(sep).map { lit =>
        s"split($s, '\\\\Q${lit.replace("'", "''")}\\\\E')"
      }
      case _ => None
    }
    Seq("string_split", "str_split", "string_to_array", "string_split_regex",
        "str_split_regex")
      .foldLeft(q) { (acc, fn) =>
        if (fn.endsWith("_regex"))
          // the _regex variants pass the separator through as a pattern
          rewriteCalls(acc, fn) {
            case Seq(s, sep) => Some(s"split($s, $sep)")
            case _ => None
          }
        else rewriteCalls(acc, fn)(f)
      }
  }

  /** r14 function-battery gaps with pure-SQL twins: ISO day-of-week,
    * decade/century, the julian day (measured: midnight renders .0 —
    * epoch/86400 + 2440588), exact epoch_ms/us/ns via unix_* (ns needs
    * LONG arithmetic, a double loses precision past 2^53), stable
    * grade-up (sort (value, index) pairs), list_has_all, and the
    * parse_path family (both separators, like DuckDB's default).
    */
  private def rewriteFnGaps(q0: String): String = {
    var q = q0
    q = rewriteCalls(q, "isodow") {
      case Seq(x) => Some(s"(((dayofweek(${x.trim}) + 5) % 7) + 1)")
      case _ => None
    }
    q = rewriteCalls(q, "decade") {
      case Seq(x) => Some(s"CAST(floor(year(${x.trim}) / 10.0) AS BIGINT)")
      case _ => None
    }
    q = rewriteCalls(q, "century") {
      case Seq(x) => Some(s"CAST(ceil(year(${x.trim}) / 100.0) AS BIGINT)")
      case _ => None
    }
    q = rewriteCalls(q, "julian") {
      case Seq(x) => Some("(2440588.0 + (CAST(date_part('epoch', " +
        s"CAST(${x.trim} AS TIMESTAMP)) AS DOUBLE) / 86400.0))")
      case _ => None
    }
    q = rewriteCalls(q, "epoch_ns") {
      case Seq(x) => Some(s"(unix_micros(CAST(${x.trim} AS TIMESTAMP_LTZ)) * CAST(1000 AS BIGINT))")
      case _ => None
    }
    q = rewriteCalls(q, "epoch_us") {
      case Seq(x) => Some(s"unix_micros(CAST(${x.trim} AS TIMESTAMP_LTZ))")
      case _ => None
    }
    q = rewriteCalls(q, "epoch_ms") {
      case Seq(x) => Some(s"unix_millis(CAST(${x.trim} AS TIMESTAMP_LTZ))")
      case _ => None
    }
    // list_grade_up / list_has_all: native DuckListGradeUp / DuckListHas
    // via the rename table (r16 listmath barrage — the SQL compositions
    // sorted NULLS FIRST and NULL'd on NULL elements where DuckDB is
    // NULLS LAST / NULL-ignoring)
    // parse_path family: components split on / or \ (DuckDB's default
    // separator mode); an absolute path keeps its leading separator as
    // the first component
    def comps(p: String) = s"filter(split($p, '[/\\\\\\\\]'), __x -> __x <> '')"
    def lead(p: String) =
      // flatten(array(..)) is the array concat here — the `concat` NAME
      // is reserved for DuckDB's string concat (NULL-skipping varchar
      // renders, r15 numedge), whose rewrite must not re-process this
      s"CASE WHEN $p RLIKE '^[/\\\\\\\\]' THEN flatten(array(array(substring($p, 1, 1)), ${comps(p)})) ELSE ${comps(p)} END"
    q = rewriteCalls(q, "parse_path") {
      case Seq(p) => Some(lead(p.trim))
      case _ => None
    }
    q = rewriteCalls(q, "parse_dirname") {
      case Seq(p0) =>
        val p = p0.trim
        Some(s"CASE WHEN size(${lead(p)}) > 1 THEN element_at(${lead(p)}, 1) ELSE '' END")
      case _ => None
    }
    q = rewriteCalls(q, "parse_dirpath") {
      case Seq(p0) =>
        val p = p0.trim
        Some(s"CASE WHEN $p RLIKE '[/\\\\\\\\]' THEN " +
          s"regexp_replace($p, '[/\\\\\\\\][^/\\\\\\\\]*$$', '') ELSE '' END")
      case _ => None
    }
    q = rewriteCalls(q, "parse_filename") {
      case Seq(p) =>
        Some(s"regexp_extract(${p.trim}, '[^/\\\\\\\\]*$$', 0)")
      case Seq(p, trim) =>
        val base = s"regexp_extract(${p.trim}, '[^/\\\\\\\\]*$$', 0)"
        Some(s"CASE WHEN ${trim.trim} THEN regexp_replace($base, " +
          s"'\\\\.[^.]*$$', '') ELSE $base END")
      case _ => None
    }
    q
  }

  // ------------------------------------------ DuckDB FROM-first syntax
  private val FromFirstRe = """(?is)^\s*FROM\s(.*)$""".r
  private val ClauseKws = Set("WHERE", "GROUP", "HAVING", "QUALIFY",
    "WINDOW", "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")

  /** index of the first top-level (outside parens/literals) occurrence
    * of any keyword in `kws`, or -1
    */
  private[graft] def firstTopLevelKeyword(s: String, kws: Set[String]): Int = {
    val lit = literalMask(s)
    var i = 0
    var depth = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (!lit(i)) c match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case _ if depth == 0 && isWordChar(c) &&
                  (i == 0 || !isWordChar(s.charAt(i - 1))) =>
          var j = i
          while (j < n && isWordChar(s.charAt(j))) j += 1
          if (kws.contains(s.substring(i, j).toUpperCase)) return i
          i = j - 1
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** split at every top-level `UNION [ALL|DISTINCT] BY NAME`:
    * (head, Seq[(isAll, operand)]). Spark's parser has no BY NAME set
    * operation, so the lake assembles these with Dataset.unionByName —
    * this is the string-side split. Plain UNION/INTERSECT/EXCEPT inside
    * an operand stays put (Spark parses those natively).
    */
  private val ByNameHeadRe =
    """(?is)^\s*(ALL\s+|DISTINCT\s+)?BY\s+NAME\b(.*)$""".r
  private[graft] def splitByNameUnions(s: String): (String, Seq[(Boolean, String)]) = {
    var from = 0
    while (true) {
      val at = firstTopLevelKeyword(s.substring(from), Set("UNION"))
      if (at < 0) return (s, Nil)
      val kwStart = from + at
      s.substring(kwStart + "UNION".length) match {
        case ByNameHeadRe(mod, rest) =>
          val isAll = mod != null && mod.trim.equalsIgnoreCase("ALL")
          val (h2, tail) = splitByNameUnions(rest)
          return (s.substring(0, kwStart), (isAll, h2) +: tail)
        case _ => from = kwStart + "UNION".length
      }
    }
    (s, Nil) // unreachable
  }

  /** peel a trailing top-level ORDER BY / LIMIT / OFFSET clause group:
    * (body, tail-with-leading-space-or-empty). On a BY NAME union the
    * tail scopes to the whole union, not the last operand.
    */
  private[graft] def splitQueryTail(s: String): (String, String) = {
    val cut = firstTopLevelKeyword(s, Set("ORDER", "LIMIT", "OFFSET"))
    if (cut < 0) (s, "")
    else (s.substring(0, cut).trim, " " + s.substring(cut).trim)
  }

  /** first top-level `POSITIONAL JOIN` outside literals:
    * Some((leftSourceStart, kwStart, rightStart)) where leftSourceStart is
    * the index just after the nearest preceding top-level FROM / JOIN /
    * comma boundary (the operand a join binds to), kwStart the keyword
    * start, rightStart the index after JOIN.
    */
  private[graft] def findPositionalJoin(s: String): Option[(Int, Int, Int)] = {
    val at = firstTopLevelKeyword(s, Set("POSITIONAL"))
    if (at < 0) return None
    val afterKw = s.substring(at + "POSITIONAL".length)
    val m = """(?is)^\s*JOIN\b""".r.findPrefixMatchOf(afterKw)
    if (m.isEmpty) return None
    val rightStart = at + "POSITIONAL".length + m.get.end
    // left boundary: the last top-level FROM / JOIN keyword or ',' before
    // the operator (a join operand never spans those)
    val head = s.substring(0, at)
    var bound = -1
    var scan = 0
    var go = true
    while (go) {
      val sub = head.substring(scan)
      val hit = firstTopLevelKeyword(sub, Set("FROM", "JOIN"))
      if (hit < 0) go = false
      else {
        val kwLen = if (sub.substring(hit).toUpperCase.startsWith("FROM")) 4 else 4
        bound = scan + hit + kwLen
        scan = bound
      }
    }
    var i = bound.max(0)
    val lit = literalMask(head)
    var depth = 0
    var j = i
    while (j < head.length) {
      if (!lit(j)) head.charAt(j) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => i = j + 1
        case _ =>
      }
      j += 1
    }
    Some((i.max(bound).max(0), at, rightStart))
  }

  private val RightEndKws = Set("WHERE", "GROUP", "HAVING", "QUALIFY",
    "WINDOW", "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT",
    "POSITIONAL", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
    "ASOF", "ANTI", "SEMI", "ON", "USING")

  /** end (exclusive) of a join operand starting at `from`: the first
    * top-level clause/join keyword or comma, or end-of-string
    */
  private[graft] def joinOperandEnd(s: String, from: Int): Int = {
    val sub = s.substring(from)
    val kw = firstTopLevelKeyword(sub, RightEndKws)
    val lit = literalMask(sub)
    var depth = 0
    var comma = -1
    var i = 0
    while (i < sub.length && comma < 0) {
      if (!lit(i)) sub.charAt(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => comma = i
        case _ =>
      }
      i += 1
    }
    val cands = Seq(kw, comma).filter(_ >= 0)
    from + (if (cands.isEmpty) sub.length else cands.min)
  }

  /** DuckDB FROM-first syntax: bare `FROM t …` == `SELECT * FROM t …`;
    * `FROM t SELECT cols …` pulls the SELECT clause back in front. The
    * select list runs to the first top-level clause keyword; the tail
    * (WHERE/GROUP/ORDER/…) stays behind the FROM part, where the clauses
    * already sit in canonical order. A SELECT inside parens (a subquery
    * source) is not a FROM-first SELECT clause.
    */
  private[lake] def rewriteFromFirst(q: String): String = q match {
    case FromFirstRe(rest) =>
      splitTopLevelKeyword(rest, "SELECT") match {
        case (fromPart, None) => s"SELECT * FROM ${fromPart.trim}"
        case (fromPart, Some(sel)) =>
          val cut = firstTopLevelKeyword(sel, ClauseKws)
          val (selList, tail) =
            if (cut < 0) (sel.trim, "")
            else (sel.substring(0, cut).trim, " " + sel.substring(cut).trim)
          s"SELECT $selList FROM ${fromPart.trim}$tail"
      }
    case _ => q
  }

  /** the full DuckDB-dialect pass (see the block comment above) */
  /** DuckDB 1.0.0 trailing-comma tolerance, measured per CONTEXT (r15 —
    * the r14 any-`)` drop silently accepted spellings DuckDB
    * parser-errors on, e.g. `count(a,)` and `(1,2,)`).
    *
    * Tolerated (comma dropped): select list, GROUP BY list (incl. CUBE/
    * ROLLUP parens and the GROUPING SETS OUTER paren), UPDATE SET list,
    * IN lists (exprs or subquery), VALUES rows and trailing row commas,
    * `[…,]` / `{…,}` literals, row(…,), DISTINCT ON (…,), CTE / derived-
    * table alias column lists (`WITH c(x,) AS`, `(…) v(x,y,)`).
    *
    * Parser errors in DuckDB (comma KEPT, so Spark's parser refuses just
    * as loudly — never a silent accept): regular function-call argument
    * lists (incl. qualified `main.f(…,)` and table functions in FROM),
    * bare row constructors `(1,2,)`, ORDER BY / PARTITION BY lists (incl.
    * inside OVER and at end of input), CASE arms, WHERE/LIMIT/OFFSET
    * scalar tails, GROUPING SETS inner groups, INSERT column lists.
    *
    * The clause-keyword set stays DuckDB-RESERVED words only, so a bare
    * identifier can never be swallowed into an alias. Known benign
    * residue: `CAST(x AS DECIMAL(10,2,))` shares the `AS name(` alias
    * shape and is dropped (both engines then agree on the value). */
  private val TrailingCommaKws = Set("FROM", "WHERE", "GROUP", "HAVING",
    "ORDER", "UNION", "INTERSECT", "EXCEPT")
  // list-context codes carried per nesting frame
  private final val CtxPlain = 0  // scalar / no list: trailing ',' errors
  private final val CtxTol = 1    // list tolerating a trailing comma
  private final val CtxArg = 2    // call args / ORDER / PARTITION: errors
  private final val CtxValues = 3 // VALUES row list: rows + separators ok
  /** keywords that can directly precede a '(' without making it a call */
  private val TrailingCommaNonCall = Set("AND", "OR", "NOT", "WHERE",
    "SELECT", "WHEN", "THEN", "ELSE", "AS", "FROM", "JOIN", "UNION", "ALL",
    "DISTINCT", "EXCEPT", "INTERSECT", "BY", "HAVING", "QUALIFY", "LIMIT",
    "OFFSET", "CASE", "END", "BETWEEN", "LIKE", "ILIKE", "SIMILAR", "IS",
    "OVER", "USING", "WINDOW", "LATERAL", "CROSS", "INNER", "LEFT",
    "RIGHT", "FULL", "OUTER", "NATURAL", "ASOF", "POSITIONAL", "ANTI",
    "SEMI", "EXISTS", "INTO", "TABLE", "VALUES", "IN", "ON", "SET",
    "GROUP", "ORDER", "PARTITION", "RETURNING")
  private def rewriteTrailingCommas(q0: String): String = {
    val lit = literalMask(q0)
    // frame = (ctx, caseDepth) — caseDepth > 0 means inside CASE…END,
    // where commas are never list commas
    val ctxs = scala.collection.mutable.ArrayBuffer(CtxPlain)
    val cases = scala.collection.mutable.ArrayBuffer(0)
    var prev = ""  // last significant token (words uppercased)
    var prev2 = ""
    def push(t: String): Unit = { prev2 = prev; prev = t }
    def isIdentTok(t: String) =
      t.nonEmpty && (t.charAt(0).isLetter || t.charAt(0) == '_') &&
        !TrailingCommaNonCall(t)
    def wordAt(k0: Int): String = {
      var e = k0
      while (e < q0.length &&
        (q0.charAt(e).isLetterOrDigit || q0.charAt(e) == '_')) e += 1
      q0.substring(k0, e).toUpperCase(java.util.Locale.ROOT)
    }
    val sb = new StringBuilder
    var i = 0
    while (i < q0.length) {
      val c = q0.charAt(i)
      if (lit(i)) { sb.append(c); push("'"); i += 1 }
      else if (c.isLetter || c == '_') {
        var e = i
        while (e < q0.length &&
          (q0.charAt(e).isLetterOrDigit || q0.charAt(e) == '_')) e += 1
        val w = q0.substring(i, e).toUpperCase(java.util.Locale.ROOT)
        w match {
          case "SELECT" | "GROUP" | "SET"  => ctxs(ctxs.length - 1) = CtxTol
          case "VALUES"                    => ctxs(ctxs.length - 1) = CtxValues
          case "ORDER" | "PARTITION"       => ctxs(ctxs.length - 1) = CtxArg
          case "FROM" | "WHERE" | "HAVING" | "QUALIFY" | "LIMIT" |
               "OFFSET" | "WINDOW" | "JOIN" | "USING" | "RETURNING" =>
            ctxs(ctxs.length - 1) = CtxPlain
          case "ON" => if (prev != "DISTINCT") ctxs(ctxs.length - 1) = CtxPlain
          case "CASE" => cases(cases.length - 1) += 1
          case "END" =>
            if (cases(cases.length - 1) > 0) cases(cases.length - 1) -= 1
          case _ =>
        }
        sb.append(q0.substring(i, e))
        push(w)
        i = e
      } else c match {
        case '(' =>
          val ctx =
            if (ctxs.last == CtxValues && (prev == "VALUES" || prev == ","))
              CtxTol // a VALUES row
            else if (prev == "IN" || prev == "ROW" || prev == "CUBE" ||
              prev == "ROLLUP" || prev == "SETS" ||
              (prev == "ON" && prev2 == "DISTINCT")) CtxTol
            else if (isIdentTok(prev)) {
              // identifier( — a call UNLESS the identifier itself follows
              // `)`, AS, WITH or another identifier: then it is a CTE /
              // derived-table alias whose column list tolerates the comma
              if (prev2 == ")" || prev2 == "AS" || prev2 == "WITH" ||
                isIdentTok(prev2)) CtxTol
              else CtxArg
            } else CtxPlain
          ctxs += ctx; cases += 0
          sb.append(c); push("("); i += 1
        case '[' | '{' =>
          ctxs += CtxTol; cases += 0
          sb.append(c); push(c.toString); i += 1
        case ')' | ']' | '}' =>
          if (ctxs.length > 1) { ctxs.remove(ctxs.length - 1); cases.remove(cases.length - 1) }
          sb.append(c); push(c.toString); i += 1
        case ',' =>
          var k = i + 1
          while (k < q0.length && q0.charAt(k).isWhitespace) k += 1
          val eff = if (cases.last > 0) CtxPlain else ctxs.last
          val tolerant = eff == CtxTol || eff == CtxValues
          val drop =
            if (k >= q0.length) tolerant
            else if (lit(k)) false
            else {
              val ch = q0.charAt(k)
              if (ch == ']' || ch == '}') true
              else if (ch == ')') {
                if (tolerant) true
                else if (eff == CtxArg) {
                  // CTE column-list rescue: `WITH c(x,y,) AS (…)` — the
                  // close paren is followed by `AS (`. A bare `AS alias`
                  // after a call (`greatest(1,2,) AS v`) must NOT rescue.
                  var m = k + 1
                  while (m < q0.length && q0.charAt(m).isWhitespace) m += 1
                  if (m < q0.length && !lit(m) && q0.charAt(m).isLetter &&
                    wordAt(m) == "AS") {
                    var p = m + 2
                    while (p < q0.length && q0.charAt(p).isWhitespace) p += 1
                    p < q0.length && q0.charAt(p) == '('
                  } else false
                } else false
              } else if (ch.isLetter) {
                tolerant && TrailingCommaKws(wordAt(k))
              } else false
            }
          if (!drop) sb.append(c)
          push(",")
          i += 1
        case _ =>
          if (!c.isWhitespace) push(c.toString)
          sb.append(c); i += 1
      }
    }
    sb.toString
  }

  def rewriteDialect(sql: String): String = {
    var q = rewriteTrailingCommas(rewriteFromFirst(sql))
    // ANSI FETCH FIRST / OFFSET..ROWS -> LIMIT/OFFSET; forward CTE
    // references reorder to definition-before-use (r17 stmtshape)
    q = rewriteFetchFirst(q)
    q = reorderForwardCtes(q)
    q = rewriteWindowInherit(q)
    // DuckDB 1.0's parser refuses the SQL-standard OUTSIDE-parens
    // `fn(x) IGNORE NULLS OVER` spelling and GROUPS window frames
    // (measured; the IN-parens `fn(x IGNORE NULLS)` spelling is valid
    // DuckDB and relocates to Spark's outside form later). Spark
    // ACCEPTS the outside spelling, so without this guard a
    // reference-refused query would silently run (r16 windepth)
    locally {
      val lm = literalMask(q)
      for (pat <- Seq("""(?i)\)\s*((?:IGNORE|RESPECT)\s+NULLS)\s+OVER\b""".r,
                      """(?i)\b(GROUPS\s+BETWEEN)\b""".r))
        pat.findAllMatchIn(q).find(m => !lm(m.start)).foreach { m =>
          throw new IllegalArgumentException(
            s"'${m.group(1)}' is not DuckDB 1.0 window syntax (its parser refuses it)")
        }
    }
    // table-function `FROM generate_series(a, b)` -> exploded sequence
    // derived table carrying DuckDB's output column name — MUST precede
    // renameFns, which maps list-position generate_series to sequence
    q = rewriteGenerateSeriesFrom(q)
    q = rewriteRangeFrom(q)
    // FROM-position unnest must also precede renameFns (which maps the
    // select-position spelling to explode)
    q = rewriteUnnestFrom(q)
    // r18 tvf parity: select-position range() lists; unnest options
    // (recursive :=, struct-literal expansion); then the ZIP semantics
    // for multiple/nested unnests — all BEFORE renameFns maps the
    // remaining single bare unnest to explode
    q = rewriteRangeSelect(q)
    q = rewriteCalls(q, "generate_series") {
      // an INTERVAL step walks the calendar cumulatively and DATE
      // bounds answer TIMESTAMPs (measured) — the inclusive native,
      // not Spark's start+i*step sequence
      case Seq(a, b, st)
          if """(?is)^\s*INTERVAL\b""".r.findFirstIn(st.trim).isDefined =>
        Some(s"__graft_series(CAST(${a.trim} AS TIMESTAMP_NTZ), " +
          s"CAST(${b.trim} AS TIMESTAMP_NTZ), ${st.trim})")
      case _ => None
    }
    q = rewriteUnnestArgs(q)
    q = rewriteUnnestZip(q)
    // r18: 1-based index lambdas + the transform/filter alias spellings
    // — BEFORE any pass that emits Spark-name lambdas of its own
    q = rewriteLambdaIndexBase(q)
    // quantified ordering comparisons reduce to min/max scalar
    // subqueries before anything else touches the operand text
    // (= ANY / <> ALL ride the older rewriteQuantified -> IN/NOT IN)
    q = rewriteQuantifiedOrdering(q)
    // TIMESTAMPTZ typed literals keep their tz-ness as a __graft_tstz
    // tag (render-only under the UTC session); must precede the cast
    // pass so `CAST(TIMESTAMPTZ '…' AS …)` sees the wrapped call
    q = rewriteTstzLiterals(q)
    q = rewriteUuidLiterals(q)
    q = rewriteMixedIntervalLiterals(q)
    // cast targets (`x::VARCHAR[]`, CAST(x AS STRUCT(…)), ::JSON/::BLOB)
    // before the bracket pass so array-type suffixes are already gone
    q = rewriteCastTargets(q)
    // BIT-flavored length family (r16): after the cast pass a lexical
    // BIT operand reads `__graft_bit(…)` / `bitstring(…)` / `set_bit(…)`
    // — octet_length of a BIT is ceil(bits/8), not the VARCHAR byte
    // count (measured octet_length('0101'::BIT) = 1). length() agrees
    // between the carriers and needs no routing; BIT columns read back
    // as their VARCHAR carrier (documented divergence, carrier-visible).
    def bitish(a: String): Boolean = {
      val t = a.trim
      t.startsWith("__graft_bit(") || t.startsWith("__graft_try_bit(") ||
        t.startsWith("bitstring(") || t.startsWith("set_bit(")
    }
    q = rewriteCalls(q, "octet_length") {
      case Seq(a) if bitish(a) =>
        Some(s"CAST(ceil(length(${a.trim}) / 8.0) AS BIGINT)")
      case _ => None
    }
    q = rewriteCalls(q, "bit_length") {
      case Seq(a) if bitish(a) => Some(s"CAST(length(${a.trim}) AS BIGINT)")
      case _ => None
    }
    // infix AT TIME ZONE after the cast/literal passes so its LHS is a
    // settled call or literal; timezone(z, x) is the same operator with
    // the argument order flipped (r13 tz barrage)
    q = rewriteAtTimeZone(q)
    q = rewriteCalls(q, "timezone") {
      case Seq(z, x) => Some(s"__graft_at_tz(${x.trim}, ${z.trim})")
      case _ => None
    }
    q = rewriteStringAgg(q)
    // expression-level COLLATE and ILIKE before the function renames so
    // their emitted __graft_lower/__graft_noaccent calls are final
    q = rewriteCollate(q)
    q = rewriteIlike(q)
    q = rewriteModNullSafe(q)
    q = rewriteShifts(q)
    q = rewriteBareRegexOps(q)
    q = rewriteRegexpFlags(q)
    q = rewriteJsonFns(q)
    q = rewriteJsonArrows(q)
    q = rewriteListMisc(q)
    q = rewriteFnGaps(q)
    // r15 json-build probe: construction/inspection twins (measured —
    // functions/DuckJsonBuild). to_json/json_quote take ANY value there
    // (scalars render as JSON; Spark's to_json refuses scalars — the
    // native delegates struct/array/map to Catalyst's writer);
    // json_object/json_array build from mixed-typed args;
    // json_merge_patch is RFC 7386 on text; json_type names the DuckDB
    // logical type (2-arg form extracts the path first); json_keys is
    // Spark's json_object_keys with DuckDB's empty-list (not NULL)
    // answer on non-objects.
    for (fn <- Seq("to_json", "json_quote"))
      q = rewriteCalls(q, fn) {
        case Seq(x) => Some(s"__graft_to_json(${x.trim})")
        case _ => None
      }
    q = rewriteCalls(q, "json_array") { args =>
      Some(s"__graft_json_array(${args.mkString(", ")})")
    }
    q = rewriteCalls(q, "json_object") { args =>
      if (args.length % 2 == 0) Some(s"__graft_json_object(${args.mkString(", ")})")
      else None
    }
    q = rewriteCalls(q, "json_merge_patch") {
      case Seq(a, b) => Some(s"__graft_json_merge(${a.trim}, ${b.trim})")
      case _ => None
    }
    q = rewriteCalls(q, "json_type") {
      case Seq(x) => Some(s"__graft_json_typeof(${x.trim})")
      case Seq(x, p) =>
        Some(s"__graft_json_typeof(__graft_json_extract(${x.trim}, ${p.trim}))")
      case _ => None
    }
    q = rewriteCalls(q, "json_keys") {
      case Seq(x) =>
        Some(s"coalesce(json_object_keys(${x.trim}), array())")
      case _ => None
    }
    // r15 concat barrage: DuckDB's concat SKIPS NULLs and renders every
    // argument to VARCHAR (concat('a', NULL, 'b') = 'ab'; concat of two
    // lists is the concatenated RENDERS) — Spark's concat is
    // NULL-propagating and array-aware. concat_ws('') has the exact
    // skip-NULLs semantics; operands render through the repaired
    // CAST-to-VARCHAR. list_concat keeps LIST semantics: its rename to
    // Spark's array concat happens AFTER this pass and never matches here.
    q = rewriteCalls(q, "concat") { args =>
      if (args.isEmpty) None // concat() errors loudly in both engines
      else Some(s"concat_ws('', ${args.map(a => s"CAST(($a) AS VARCHAR)").mkString(", ")})")
    }
    q = mapOutsideLiterals(q)(renameFns)
    // list_position: plain array_position — MEASURED DuckDB 1.0 returns
    // 0 when the element is absent and NULL for a NULL target, exactly
    // Spark's semantics (the r8 nullif wrapper encoded the docs of a
    // later version and silently flipped absent to NULL — r12 list
    // differential fix)
    q = rewriteCalls(q, "list_position") { args =>
      Some(s"array_position(${args.mkString(", ")})")
    }
    // r15 numedge: DuckDB's 1-arg log is LOG10 (measured: log(100)=2.0;
    // Spark's log is the NATURAL log — a silent value divergence);
    // 2-arg log(b, x) matches Spark's log(base, expr) and stays.
    // 1-arg trunc is toward-zero numeric truncation Spark lacks
    // (Spark's trunc is the 2-arg DATE trunc, untouched).
    q = rewriteCalls(q, "log") {
      case Seq(x) => Some(s"__graft_log10(${x.trim})")
      case _ => None
    }
    q = rewriteCalls(q, "trunc") {
      case Seq(x) => Some(s"__graft_trunc(${x.trim})")
      case _ => None
    }
    // r15 substr window semantics: a start at or below 0 CONSUMES length
    // (substr('abcdef', 0, 3) = 'ab') and a negative length extends the
    // window BACKWARD ('a' for substr('abcdef', 2, -1)) — Spark clamps
    // the start to 1 and empties negative lengths. The semantics are
    // EQUAL for start >= 1 && len >= 0, so the native is a drop-in for
    // every 3-arg spelling (comma form and ANSI FROM/FOR); the 2-arg
    // forms agree on every measured point and stay native Spark.
    for (fn <- Seq("substr", "substring"))
      q = rewriteCalls(q, fn) {
        case Seq(a, b, c) =>
          Some(s"__graft_substr3(${a.trim}, ${b.trim}, ${c.trim})")
        case Seq(one) =>
          // ANSI `substring(x FROM p FOR l)` — the FOR form shares the
          // window semantics; FROM-only agrees with Spark already
          splitTopLevelKeyword(one, "FROM") match {
            case (x, Some(rest)) =>
              splitTopLevelKeyword(rest, "FOR") match {
                case (p, Some(l)) =>
                  Some(s"__graft_substr3(${x.trim}, ${p.trim}, ${l.trim})")
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
    // list_reverse_sort: descending with NULLS LAST (measured)
    q = rewriteCalls(q, "list_reverse_sort") {
      case Seq(l) => Some(s"sort_array(($l), false)")
      case _ => None
    }
    // list_distinct: DuckDB 1.0 renders the REVERSE of first-occurrence
    // dedup with NULLs dropped ([1,2,2,3,1] -> [3,2,1] — measured)
    q = rewriteCalls(q, "list_distinct") {
      case Seq(l) =>
        Some(s"reverse(array_distinct(filter(($l), __ld -> __ld IS NOT NULL)))")
      case _ => None
    }
    // list_prepend takes (element, list) — Spark's array_prepend is
    // (list, element): swap (the bare rename was a loud type error)
    q = rewriteCalls(q, "list_prepend") {
      case Seq(e, l) => Some(s"array_prepend($l, $e)")
      case _ => None
    }
    // list_sum / list_avg: DECIMAL-aware natives (HUGEINT-convention
    // DECIMAL(38,0) for integral elements, exact decimal sums, DOUBLE
    // average — functions/ScalarWave)
    q = rewriteCalls(q, "list_sum") {
      case Seq(l) => Some(s"__graft_list_sum($l)")
      case _ => None
    }
    q = rewriteCalls(q, "list_avg") {
      case Seq(l) => Some(s"__graft_list_avg($l)")
      case _ => None
    }
    // DuckDB's map() takes (keys_list, values_list) — Spark's same-name
    // builtin takes interleaved varargs, so the 2-arg form must map to
    // map_from_arrays (a 2-arg Spark map(k, v) spelling is not DuckDB
    // dialect and is not expected through this router)
    q = rewriteCalls(q, "map") { args =>
      if (args.length == 2) Some(s"map_from_arrays(${args.map(_.trim).mkString(", ")})")
      else None
    }
    q = mapOutsideLiterals(q) { seg =>
      StarExcludeBareRe.replaceAllIn(
        StarExcludeParenRe.replaceAllIn(seg, "$1EXCEPT$2"), "$1EXCEPT ($2)")
    }
    // DuckDB division `a // b` (`//` is not a comment marker in either
    // dialect) -> type-dispatching native FloorDiv: integer operands
    // trunc-divide, floating operands PLAIN-divide (r12, measured)
    q = rewriteFloorDivOp(q)
    // then every remaining `/` -> always-DOUBLE division with NULL on a
    // zero divisor (DuckDB's `/`; Spark's DECIMAL division truncates at
    // scale 6 and its double division yields Infinity on zero)
    q = rewriteDivOp(q)
    // Postgres-style LIKE operators (longest token first so `!~~*`
    // never half-matches); Spark has native ILIKE. Bare `~`/`!~` regex
    // operators stay out: `~` is ALSO DuckDB's prefix bitwise-NOT and a
    // textual pass cannot disambiguate — those spellings stay loud.
    q = mapOutsideLiterals(q)(_
      .replace("!~~*", " NOT ILIKE ").replace("!~~", " NOT LIKE ")
      .replace("~~*", " ILIKE ").replace("~~", " LIKE "))
    // DuckDB power `a ** b` / `a ^ b` -> power(a, b); Spark's `^` is XOR
    q = rewritePowerOp(q)
    // bare VARCHAR in a SELECT-position cast (x::VARCHAR, CAST(x AS
    // VARCHAR)) -> STRING: Spark's VARCHAR demands a length, DuckDB's is
    // length-free. VARCHAR(n) keeps its length (Spark accepts it).
    q = mapOutsideLiterals(q)(
      _.replaceAll("(?i)\\bVARCHAR\\b(?!\\s*\\()", "STRING"))
    // USING SAMPLE: seeded forms first (deterministic md5-rank rows /
    // Spark seeded percent), then the unseeded forms -> TABLESAMPLE (…),
    // which stay nondeterministic on both engines (capability
    // pass-through, no oracle)
    // window frame EXCLUDE modifiers (before any other OVER-body work)
    q = rewriteWindowExclude(q)
    q = mapOutsideLiterals(q)(rewriteSampleSeeded)
    q = mapOutsideLiterals(q) { seg =>
      SampleRowsRe.replaceAllIn(
        SamplePctRe.replaceAllIn(seg, "TABLESAMPLE ($1 PERCENT)"),
        "TABLESAMPLE ($1 ROWS)")
    }
    // `x SIMILAR TO 'pat'` — full-string POSIX regex match in DuckDB:
    // the infix shape survives as RLIKE with an anchored pattern (NOT
    // SIMILAR TO rides the same rewrite through Spark's NOT RLIKE).
    // Literal-masked like every other rewrite: the phrase inside a
    // string literal must survive verbatim
    q = rewriteSimilarTo(q)
    // r16 likeglob barrage: infix GLOB -> byte-wise native; literal
    // no-ESCAPE LIKE patterns get their backslashes re-doubled (DuckDB
    // LIKE has no default escape; Spark's is backslash)
    q = rewriteGlobInfix(q)
    q = rewriteLikeEscapeNull(q)
    q = rewriteLikeNoEscape(q)
    q = rewriteStrftime(q)
    q = rewriteStrptime(q)
    q = rewriteScalarMisc(q)
    q = rewriteDateDiff(q)
    q = rewriteDateParts(q)
    q = rewriteDateTrunc(q)
    q = rewriteStringSplit(q)
    // DuckDB's in-parens null treatment `lag(x IGNORE NULLS)` -> Spark's
    // after-call `lag(x) IGNORE NULLS` (lead / first/last_value /
    // nth_value ride the same rewrite; RESPECT NULLS is the no-op twin).
    // GROUP BY ALL / ORDER BY ALL / TRY_CAST need no rewrite — Spark 4
    // parses them natively with DuckDB's semantics (q_lake_dialect12).
    for (fn <- Seq("lag", "lead", "first_value", "last_value", "nth_value",
        "first", "last", "any_value")) {
      val nullsRe = "(?is)^(.*?)\\s+(IGNORE|RESPECT)\\s+NULLS\\s*$".r
      q = rewriteCalls(q, fn) { args =>
        args.lastOption.collect {
          case nullsRe(head, kw) =>
            fn + "(" + (args.init :+ head.trim).mkString(", ") +
              s") ${kw.toUpperCase(java.util.Locale.ROOT)} NULLS"
        }
      }
    }
    // struct_pack(a := 1) -> named_struct('a', 1) — before the brace
    // literals so both spellings land on the same Spark function
    q = rewriteCalls(q, "struct_pack") { args =>
      Some("named_struct(" + args.map { a =>
        val at = a.indexOf(":=")
        require(at > 0, s"cannot parse struct_pack entry: $a")
        s"'${a.take(at).trim.stripPrefix("\"").stripSuffix("\"")}', ${a.drop(at + 2).trim}"
      }.mkString(", ") + ")")
    }
    q = rewriteBraces(q)
    // struct_insert(s, b := 9) -> native append (measured field order:
    // existing first, new appended — r13 struct/map differential);
    // after the brace pass so a struct-literal first argument's commas
    // are already inside named_struct(...) parens
    q = rewriteCalls(q, "struct_insert") { args =>
      if (args.length < 2) None
      else Some("__graft_struct_insert(" + args.head.trim + ", " +
        args.tail.map { a =>
          val at = a.indexOf(":=")
          require(at > 0, s"cannot parse struct_insert entry: $a")
          s"'${a.take(at).trim.stripPrefix("\"").stripSuffix("\"")}', ${a.drop(at + 2).trim}"
        }.mkString(", ") + ")")
    }
    // AFTER the brace pass: a struct-literal argument `{'a': 1, 'b': 2}`
    // holds top-level commas the call-splitter cannot see until braces
    // became named_struct(...) parens (r13).
    // struct_extract(s, 'k') / map_extract(m, k) / element_at(x, k):
    // all land on the type-dispatched native subscript — DuckDB's
    // element_at/map_extract return a LIST of matches on a MAP
    // (measured `[7]` / `[]`), which Spark's element_at conflates
    // list_extract/array_extract are the same 1-based end-relative
    // subscript (and DuckDB accepts a STRING base — one char out,
    // measured r18 slice differential)
    for (fn <- Seq("struct_extract", "map_extract", "element_at",
        "list_extract", "array_extract")) {
      q = rewriteCalls(q, fn) {
        case Seq(a, b) => Some(s"__graft_subscript(${a.trim}, ${b.trim})")
        case _ => None
      }
    }
    // row(...) -> unnamed struct; the reserved __graft_unnamed_N field
    // names make the VARCHAR renderer print DuckDB's paren form
    q = rewriteCalls(q, "row") { args =>
      Some("named_struct(" + args.zipWithIndex.map { case (a, i) =>
        s"'__graft_unnamed_${i + 1}', ${a.trim}"
      }.mkString(", ") + ")")
    }
    q = rewriteBrackets(q)
    q = rewriteStarReplace(q)
    q = rewriteStarRename(q)
    q = rewriteDistinctOn(q)
    q = rewriteQualify(q)
    q = rewriteAsof(q)
    // LAST: DuckDB's ASC default is NULLS LAST (Spark: NULLS FIRST) —
    // applied after every pass that creates or moves ORDER BY clauses
    rewriteOrderNulls(q)
  }
}
