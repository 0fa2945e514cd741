package graft.api

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake._
import graft.lake.FileStats.normUri
import graft.xlsx.ExcelRemote

/** The DuckLakeXL artifact, Spark-native (SURVEY.md Face B): an Excel
  * workbook is the metadata catalog of a parquet lakehouse, and every
  * `sql()` call is bracketed by pull (xlsx -> catalog) and push
  * (catalog -> xlsx) — the reference's whole engine
  * (/root/reference/ducklakexl/ducklakexl.py:387-397).
  *
  * {{{
  * val lake = new DuckLakeXLSpark(spark, "lake.xlsx", "/data/lake")
  * lake.sql("CREATE TABLE t(id INTEGER, val VARCHAR)")
  * lake.sql("INSERT INTO t VALUES (1,'alpha'); SELECT * FROM t")  // multi-statement
  * }}}
  *
  * Semantics preserved from the reference:
  *  - pull/push bracket EVERY call, even pure SELECT (ducklakexl.py:387-397);
  *    the pull reads the workbook only when its content identity moved
  *    since this session last pulled or pushed it ([[graft.lake.CatalogSync]])
  *  - bootstrap: all catalog sheets present in the workbook -> adopt remote
  *    state (pull); else seed and push (ducklakexl.py:261-296)
  *  - multi-statement scripts run in order; the LAST select's DataFrame is
  *    returned, lazily (README.md:70-79, notebook cells 4/8)
  *  - the workbook is the source of truth: a new instance opened on the
  *    same xlsx + parquet answers the same queries (ducklakexl.py:746-762)
  *
  * Spark-native divergences (documented, deliberate):
  *  - our WRITER does DELETE as file-granular copy-on-write (untouched
  *    files are kept verbatim; fully-matching files are dropped without
  *    IO; partially matching files are rewritten) instead of positional
  *    delete files — the scan stays a plain parquet union, which Catalyst
  *    optimizes like any other scan. The READER still honors foreign
  *    positional delete files (a workbook written by real DuckDB-DuckLake):
  *    affected files scan merge-on-read (anti-join on file + row ordinal),
  *    and DML materializes them into the CoW shape first.
  *  - catalog mutation is an atomic in-memory swap + atomic xlsx rename,
  *    so a crashed push never leaves a torn workbook (reference rewrites
  *    sheet-by-sheet, non-atomic — README.md:28).
  *  - time travel is first-class: `snapshots()` and `tableAt(name, id)`
  *    (the reference lists it as a TODO, README.md:162-165).
  *  - the push is compare-and-set on the snapshot head and writes only the
  *    sheets that changed ([[graft.lake.CatalogSync]]); the reference is
  *    last-push-wins and rewrites every sheet (README.md:3-4,150-156).
  *  - DuckDB resolves catalog-backed names itself (ducklakexl.py:236-241);
  *    here `syncViews` alone owns the lake's temp views (TEMP tables, lake
  *    views). Metadata relations are built by the statement naming them.
  */
class DuckLakeXLSpark(
    val spark: SparkSession,
    val excelPath: String,
    val dataPath: String,
    val lakeName: String = "my_ducklake",
    driveId: Option[String] = None,
    remoteOverride: Option[ExcelRemote] = None,
    /** DuckLake data inlining (`data_inlining_row_limit`, default OFF):
      * when > 0, a literal-VALUES INSERT of at most this many rows is
      * stored INLINE in the catalog — a metadata-only commit, zero Spark
      * jobs, no data file. Rows flush to parquet automatically before any
      * DML/ALTER/compaction touches the table.
      */
    inlineRowLimit: Int = 0,
    /** reference's `read_shared_files` (ducklakexl.py:28,46,153-154):
      * when true the Graph device-code flow also requests the
      * `Files.ReadWrite.All` scope, so workbooks SHARED WITH the user
      * resolve; default false = own files only (`Files.ReadWrite`).
      */
    readSharedFiles: Boolean = false) {

  /** sync over a local xlsx or Graph workbook, picked like the reference's
    * _pick_client (ducklakexl.py:85-97); `remoteOverride` injects a
    * pre-built transport. Declared, like `state` and the hook below,
    * before `initialize()` uses it: fields initialise in declaration order.
    */
  private val sync = new CatalogSync(
    remoteOverride.getOrElse(ExcelRemote.pick(excelPath, driveId, readSharedFiles)))

  @volatile private var state: CatalogState = CatalogState.empty

  /** ONE-SHOT test seam: runs at the next [[push]] entry, then clears —
    * lets a spec interleave a racing writer exactly between this
    * session's pull and its push (ConcurrencySpec's auto-retry case)
    */
  @volatile private[graft] var onBeforePush: () => Unit = () => ()

  /** the schema unqualified table names resolve against (`USE <schema>`);
    * DuckLake starts every lake with `main`
    */
  @volatile private var curSchema: String = "main"

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** session-lifetime TEMP tables (CREATE TEMP TABLE [AS]) — DuckDB's
    * temp schema: never synced to the workbook, gone with this object,
    * shadowing lake tables on bare names (Spark resolves temp views
    * before catalog tables, the same search order). Each is an EAGER
    * `localCheckpoint` snapshot, so a CTAS temp keeps its content even
    * when the lake table it was staged from is rewritten underneath —
    * DuckDB temp tables are materialized the same way. Scale note: the
    * snapshot lives in executor block storage (MEMORY_AND_DISK), the
    * right home for the staging-sized tables this idiom carries; a
    * cluster job staging terabytes should CTAS a real lake table instead.
    * Declared BEFORE initialize(): syncViews reads it during
    * construction (field initializers run in declaration order).
    */
  private var tempTables = Map.empty[String, DataFrame]

  // what syncViews last reconciled against, the temp views it registered
  // (TEMP tables, lake views), and the temp views statements registered
  // since through `statementView` (dropped when their commit bracket ends)
  private var syncedState: CatalogState = null
  private var syncedTemps: Map[String, DataFrame] = null
  private var syncedNames = Set.empty[String]
  private var statementViews = Set.empty[String]

  initialize()

  // ------------------------------------------------------------ bootstrap
  /** reference _initialize_ducklake (ducklakexl.py:232-299): all sheets
    * present -> pull (adopt remote); else seed + push
    */
  private def initialize(): Unit = {
    Files.createDirectories(Paths.get(dataPath))
    // DSv2: make `<lakeName>.<schema>.<table>`, USE, and native time travel
    // resolve through Catalyst (SURVEY §1.1/§7.1). The conf is read lazily
    // by Spark's CatalogManager; the registry hands the plugin THIS
    // instance (last registration wins — reopen semantics).
    DuckLakeCatalog.register(lakeName, this)
    spark.conf.set(s"spark.sql.catalog.$lakeName", classOf[DuckLakeCatalog].getName)
    // DuckDB TIME columns map to Spark 4.1's TIME type, which ships
    // behind a feature flag — a lake session needs it on (runtime conf)
    spark.conf.set("spark.sql.timeType.enabled", "true")
    // SQL-callable natives the dialect rewrites target: DuckDB's 3-arg
    // regexp_replace is FIRST-match-only (Spark's is global) — the
    // rewrite routes it here with \\N backrefs translated
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_regexp_replace_first", { exprs =>
        require(exprs.length == 3,
          "__graft_regexp_replace_first(subject, pattern, replacement)")
        graft.functions.RegexpReplaceFirst(exprs(0), exprs(1), exprs(2))
      })
    // profiling aggregates (DuckDB histogram/entropy/mad/product): native
    // partial-able TypedImperativeAggregates — the dialect rewrites route
    // the DuckDB spellings here (the analyzer wraps an AggregateFunction
    // returned from a registry builder into its AggregateExpression)
    def reg1(name: String, mk: org.apache.spark.sql.catalyst.expressions.Expression =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
        spark, name, { exprs =>
          require(exprs.length == 1, s"$name(x)")
          mk(exprs.head)
        })
    reg1("__graft_histogram", graft.functions.HistogramAgg(_))
    reg1("__graft_entropy", graft.functions.EntropyAgg(_))
    reg1("__graft_mad", graft.functions.MadAgg(_))
    reg1("__graft_product", graft.functions.ProductAgg(_))
    // r12 scalar wave (functions/ScalarWave): measured DuckDB twins the
    // dialect rewrites target — age/nextafter/damerau/bar/`//`
    def reg2(name: String, mk: (org.apache.spark.sql.catalyst.expressions.Expression,
        org.apache.spark.sql.catalyst.expressions.Expression) =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
        spark, name, { exprs =>
          require(exprs.length == 2, s"$name(a, b)")
          mk(exprs(0), exprs(1))
        })
    reg2("__graft_age", graft.functions.AgeText(_, _))
    reg2("__graft_nextafter", graft.functions.NextAfter(_, _))
    reg2("__graft_damerau", graft.functions.DamerauLevenshtein(_, _))
    reg2("__graft_fdiv", graft.functions.FloorDiv(_, _))
    reg2("__graft_div", graft.functions.DoubleDiv(_, _))
    reg2("__graft_months_complete", graft.functions.MonthsComplete(_, _))
    // r12 aggregate differential: DECIMAL-aware avg/quantile family +
    // Spark's own skew/kurt under unrewritable names (the
    // bias-correction compositions reference them)
    reg1("__graft_avg", graft.functions.AvgDuck(_))
    reg1("__graft_median", e => graft.functions.QuantileDuck(e,
      org.apache.spark.sql.catalyst.expressions.Literal(0.5d), "median"))
    reg2("__graft_quantile_cont", graft.functions.QuantileDuck(_, _, "cont"))
    reg2("__graft_quantile_disc", graft.functions.QuantileDuck(_, _, "disc"))
    reg1("__graft_skew",
      org.apache.spark.sql.catalyst.expressions.aggregate.Skewness(_))
    reg1("__graft_kurt",
      org.apache.spark.sql.catalyst.expressions.aggregate.Kurtosis(_))
    reg1("__graft_list_sum", graft.functions.ListSum(_))
    reg1("__graft_list_avg", graft.functions.ListAvg(_))
    reg2("__graft_gcd", graft.functions.Gcd(_, _))
    reg2("__graft_lcm", graft.functions.Lcm(_, _))
    reg1("__graft_len", graft.functions.LenOf(_))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_bar", { exprs =>
        require(exprs.length == 4, "__graft_bar(x, min, max, width)")
        graft.functions.BarText(exprs(0), exprs(1), exprs(2), exprs(3))
      })
    // r13 JSON / struct-map / regexp differential natives (measured
    // DuckDB 1.0 semantics — see functions/DuckJson, DuckStruct,
    // RegexpDuck Scaladoc for the measured divergences they close)
    reg2("__graft_json_extract", graft.functions.DuckJsonExtract(_, _, unquote = false))
    reg2("__graft_json_extract_str", graft.functions.DuckJsonExtract(_, _, unquote = true))
    reg2("__graft_json_array_length", graft.functions.DuckJsonArrayLength(_, _))
    reg1("__graft_json_valid", graft.functions.DuckJsonValid(_))
    reg2("__graft_subscript", graft.functions.DuckSubscript(_, _))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_slice", { exprs =>
        graft.functions.DuckSlice(exprs)
      })
    reg1("__graft_flat_rec", graft.functions.RecursiveFlatten(_))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_range", { exprs =>
        graft.functions.DuckRange(exprs)
      })
    // generate_series: same native, END-INCLUSIVE, cumulative calendar
    // walk for INTERVAL steps (Spark's sequence computes start+i*step —
    // 03-31 +2 months lands 05-31 where DuckDB's walk lands 05-30)
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_series", { exprs =>
        graft.functions.DuckRange(exprs, inclusive = true)
      })
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_struct_insert", { exprs =>
        graft.functions.StructInsert(exprs)
      })
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_regexp_matches", { exprs =>
        require(exprs.length == 3, "__graft_regexp_matches(s, p, flags)")
        graft.functions.RegexpMatchesDuck(exprs(0), exprs(1), exprs(2), full = false)
      })
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_regexp_full_match", { exprs =>
        require(exprs.length == 3, "__graft_regexp_full_match(s, p, flags)")
        graft.functions.RegexpMatchesDuck(exprs(0), exprs(1), exprs(2), full = true)
      })
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_regexp_replace", { exprs =>
        require(exprs.length == 4, "__graft_regexp_replace(s, p, r, flags)")
        graft.functions.RegexpReplaceDuck(exprs(0), exprs(1), exprs(2), exprs(3))
      })
    // r13 TIMESTAMPTZ / TIME natives (functions/TzTime): the tstz tag
    // is a runtime identity that carries tz-ness for the VARCHAR render;
    // AT TIME ZONE resolves post-analysis (tz-ness is a tree property)
    reg2("__graft_xor",
      org.apache.spark.sql.catalyst.expressions.BitwiseXor(_, _))
    reg1("__graft_chr", graft.functions.DuckChr(_))
    reg1("__graft_gamma", graft.functions.GammaExpr(_, ln = false))
    reg1("__graft_lgamma", graft.functions.GammaExpr(_, ln = true))
    reg1("__graft_tstz", graft.functions.TsTzTag(_))
    reg1("__graft_tsntz", graft.functions.NaiveTag(_))
    reg2("__graft_at_tz", graft.functions.AtTimeZoneResolve(_, _))
    reg1("__graft_to_time", graft.functions.ToTimeDuck(_))
    reg1("__graft_try_to_time", graft.functions.ToTimeDuck(_, tryMode = true))
    // r14 interval arithmetic (functions/IntervalArith): per-field
    // * / int with integer division, unnormalized ± , mixed-family
    // literal constructor — CoercionRepair routes interval-literal
    // expressions here pre-analysis
    reg2("__graft_iv_mul", graft.functions.IvScale(_, _, div = false))
    reg2("__graft_iv_div", graft.functions.IvScale(_, _, div = true))
    reg2("__graft_iv_add", graft.functions.IvAdd(_, _, sub = false))
    reg2("__graft_iv_sub", graft.functions.IvAdd(_, _, sub = true))
    reg1("__graft_iv_norm", graft.functions.IvNorm(_))
    // r15 Unicode/COLLATE barrage: DuckDB-exact simple case fold,
    // accent strip, NFC key (functions/DuckCase)
    reg1("__graft_upper", graft.functions.DuckCaseMap(_, upper = true))
    reg1("__graft_lower", graft.functions.DuckCaseMap(_, upper = false))
    reg1("__graft_noaccent", graft.functions.StripAccentsExpr(_))
    reg1("__graft_nfc", graft.functions.NfcNormalize(_))
    // r15 numedge barrage (functions/NumericEdge): DuckDB-exact trunc/
    // sign/factorial/fmod and the loud out-of-range guards on
    // sqrt/ln/log10/log2 (Spark silently NaN/NULLs those)
    reg1("__graft_trunc", graft.functions.DuckTrunc(_))
    reg1("__graft_sign", graft.functions.DuckSign(_))
    reg1("__graft_factorial", graft.functions.DuckFactorial(_))
    reg2("__graft_fmod", graft.functions.DuckFmod(_, _))
    reg1("__graft_sqrt", graft.functions.GuardedMath(_, "sqrt"))
    reg1("__graft_ln", graft.functions.GuardedMath(_, "ln"))
    reg1("__graft_log10", graft.functions.GuardedMath(_, "log10"))
    reg1("__graft_log2", graft.functions.GuardedMath(_, "log2"))
    reg2("__graft_shl", graft.functions.GuardedShift(_, _, isLeft = true))
    reg2("__graft_shr", graft.functions.GuardedShift(_, _, isLeft = false))
    // r16 uuid/bit/blob barrage (functions/BitBlob): escape-decoding
    // BLOB casts, canonical-lowercase UUID casts, the BIT function set
    // over the '0'/'1' VARCHAR carrier
    reg1("__graft_blob", graft.functions.StrToBlob(_, tryMode = false))
    reg1("__graft_try_blob", graft.functions.StrToBlob(_, tryMode = true))
    reg1("__graft_bit", graft.functions.StrToBit(_, tryMode = false))
    reg1("__graft_try_bit", graft.functions.StrToBit(_, tryMode = true))
    reg1("__graft_uuid", graft.functions.StrToUuid(_, tryMode = false))
    reg1("__graft_try_uuid", graft.functions.StrToUuid(_, tryMode = true))
    reg2("bitstring", graft.functions.BitstringFn(_, _))
    reg2("get_bit", graft.functions.GetBitFn(_, _))
    reg2("bit_position", graft.functions.BitPositionFn(_, _))
    reg1("bit_count", graft.functions.DuckBitCount(_))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "set_bit", { exprs =>
        require(exprs.length == 3, "set_bit(bit, index, new_bit)")
        graft.functions.SetBitFn(exprs(0), exprs(1), exprs(2))
      })
    // r16 strftime/strptime barrage (functions/StrfDuck): measured
    // C-directive formatter/parser replacing the Java-pattern translation
    reg2("__graft_strftime", graft.functions.DuckStrftime(_, _))
    reg2("__graft_strptime", graft.functions.DuckStrptime(_, _, tryMode = false))
    reg2("__graft_try_strptime", graft.functions.DuckStrptime(_, _, tryMode = true))
    // r16 printf/format barrage (functions/DuckFormat): fmt-semantics
    // formatter replacing Spark's java.util.Formatter (%b binary vs
    // boolean, half-even %.0f ties, %g zero-stripping, lowercase nan)
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_printf", exprs => graft.functions.DuckPrintf(exprs))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_format", exprs => graft.functions.DuckFmtFormat(exprs))
    // r16 likeglob barrage (functions/DuckGlob): byte-wise infix GLOB
    reg2("__graft_glob", graft.functions.DuckGlobMatch(_, _))
    // r16 listmath/mapdepth barrage (functions/ListShape, DuckStruct):
    // measured list shape/set/vector-math + last-wins map_concat
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_list_zip", exprs => graft.functions.DuckListZip(exprs))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_list_resize", exprs => graft.functions.DuckListResize(exprs))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_map_concat", exprs => graft.functions.DuckMapConcat(exprs))
    reg2("__graft_list_select", graft.functions.DuckListSelect(_, _))
    reg2("__graft_list_where", graft.functions.DuckListWhere(_, _))
    reg1("__graft_list_grade_up", graft.functions.DuckListGradeUp(_))
    reg2("__graft_list_intersect", graft.functions.DuckListIntersect(_, _))
    reg2("__graft_list_has_any", graft.functions.DuckListHas(_, _, all = false))
    reg2("__graft_list_has_all", graft.functions.DuckListHas(_, _, all = true))
    reg1("__graft_flatten", graft.functions.DuckFlatten(_))
    reg2("__graft_list_dot", graft.functions.DuckVecMath(_, _, "dot"))
    reg2("__graft_list_cos", graft.functions.DuckVecMath(_, _, "cos"))
    reg2("__graft_list_dist", graft.functions.DuckVecMath(_, _, "dist"))
    // r15 json-build probe (functions/DuckJsonBuild): construction /
    // inspection twins DuckDB users hit daily, loud catalog errors before
    reg1("__graft_to_json", graft.functions.DuckToJson(_))
    reg1("__graft_json_typeof", graft.functions.DuckJsonTypeOf(_))
    reg2("__graft_json_merge", graft.functions.DuckJsonMergePatch(_, _))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_json_array", exprs => graft.functions.DuckJsonArray(exprs))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_json_object", exprs => graft.functions.DuckJsonObject(exprs))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_substr3", { exprs =>
        require(exprs.length == 3, "__graft_substr3(str, pos, len)")
        graft.functions.DuckSubstring3(exprs(0), exprs(1), exprs(2))
      })
    // r14 function-battery gaps (functions/FuzzyText)
    reg2("jaro_similarity", graft.functions.JaroSimilarity(_, _, winkler = false))
    reg2("jaro_winkler_similarity", graft.functions.JaroSimilarity(_, _, winkler = true))
    reg1("format_bytes", graft.functions.FormatBytes(_))
    org.apache.spark.sql.graftshim.FunctionRegistryBridge.register(
      spark, "__graft_iv_make", { exprs =>
        require(exprs.length == 3, "__graft_iv_make(months, days, micros)")
        graft.functions.IvMake(exprs(0), exprs(1), exprs(2))
      })
    // withLakeConfs: bootstrap parses stored view SQL in lake dialect
    withLakeConfs {
      state = sync.bootstrap(seedState())
      syncViews()
    }
  }

  /** The reference owns its DuckDB connection outright; this lake SHARES
    * the caller's SparkSession, so the three DuckDB-dialect session confs
    * are scoped to each lake call and RESTORED afterwards — non-lake
    * `spark.sql` in the same session keeps stock Spark semantics (r15
    * advice; previously the ctor pinned them session-wide, silently
    * changing decimal result types, inline-table parsing and
    * double-quote semantics for everything else in the session):
    *  - eagerEvalOfUnresolvedInlineTable=false keeps VALUES lists
    *    unresolved through parsing — Spark 4's eager AST-builder
    *    evaluation rejects mixed-type rows BEFORE CoercionRepair can
    *    apply DuckDB's measured VALUES typing ((VALUES (1),(2.5),('3'))
    *    is DECIMAL there, r14 coercion barrage)
    *  - decimalOperations.allowPrecisionLoss=false: DuckDB keeps the
    *    formula scale and caps precision at 38 (overflow is a loud
    *    error); Spark's default reduces the scale instead (D(38,10)+
    *    D(38,10) renders 9 fraction digits vs DuckDB's 10) — measured,
    *    r14 decimal barrage
    *  - ansi.doubleQuotedIdentifiers=true: DuckDB's "..." is ALWAYS an
    *    identifier (strings are single-quoted) — without it every
    *    double-quoted identifier was a parse error (r14 gap probe)
    * Parse/analysis is eager inside each scope, so a returned DataFrame
    * stays correctly resolved after restore. Re-entrant (restore puts
    * back whatever the outer scope had). NOT thread-isolated: a racing
    * non-lake statement on another thread of the same session can
    * observe the lake values for the duration of a lake call.
    */
  private def lakeConfs = Seq(
    "spark.sql.parser.eagerEvalOfUnresolvedInlineTable" -> "false",
    "spark.sql.decimalOperations.allowPrecisionLoss" -> "false",
    "spark.sql.ansi.doubleQuotedIdentifiers" -> "true")
  private def withLakeConfs[A](body: => A): A = {
    val prev = lakeConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    lakeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** run `body` with this lake as the session's CURRENT catalog and
    * `curSchema` as the current namespace, restoring the previous
    * catalog/database afterwards. `spark.sql` analyzes eagerly, so a
    * DataFrame returned from inside the scope stays correctly resolved
    * after restore. Re-entrant.
    */
  private def withLakeCatalog[A](body: => A): A = withLakeConfs {
    // bind the registry to THIS instance for the scope: with several live
    // instances on one lake name (reopen pattern), catalog resolution must
    // follow whoever is executing, not whoever was constructed last
    DuckLakeCatalog.register(lakeName, this)
    val prevCat = spark.catalog.currentCatalog()
    val prevDb =
      try spark.catalog.currentDatabase catch { case scala.util.control.NonFatal(_) => null }
    spark.catalog.setCurrentCatalog(lakeName)
    spark.catalog.setCurrentDatabase(curSchema)
    try body finally {
      spark.catalog.setCurrentCatalog(prevCat)
      if (prevDb != null &&
          (try spark.catalog.currentDatabase != prevDb
           catch { case scala.util.control.NonFatal(_) => true }))
        try spark.catalog.setCurrentDatabase(prevDb)
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def seedState(): CatalogState = {
    val now = tsFmt.format(Instant.now().truncatedTo(ChronoUnit.SECONDS))
    CatalogState.empty.copy(
      metadata = Vector("version" -> "0.1", "created_by" -> "ducklakexlspark",
        "data_path" -> dataPath, "encrypted" -> "false"),
      snapshots = Vector(SnapshotRow(0L, now, 0L, 2L, 1L)),
      schemas = Vector(SchemaRow(1L, UUID.randomUUID().toString, 0L, None, "main")))
  }

  // ------------------------------------------------------------ pull/push

  /** adopt the workbook's catalog as this session's base. The workbook is
    * read only when its content identity moved since this session last
    * pulled or pushed it; otherwise the catalog already held is the base.
    */
  def pull(): Unit = state = sync.pull()

  /** write the changed sheets, or refuse with a
    * ConcurrentModificationException (committing nothing) when another
    * writer advanced the lake since this session's base
    */
  def push(): Unit = {
    val hook = onBeforePush
    onBeforePush = () => ()
    hook()
    sync.push(state)
  }

  /** THE commit bracket every catalog write runs in (reference `sql`,
    * ducklakexl.py:387-397): pull a fresh base when the workbook exists,
    * run `body` on it, push the result. `body` must not `return`: a
    * non-local return throws past the push and drops the commit. The
    * temp views the body registered through [[statementView]] are
    * dropped when it ends: a DataFrame it returned is analyzed already,
    * and the next statement registers its own.
    */
  private def withCatalogSync[A](body: => A): A =
    try {
      sync.pullIfPresent().foreach(state = _)
      val out = try body finally syncViews()
      push()
      out
    } finally {
      statementViews.foreach(spark.catalog.dropTempView)
      statementViews = Set.empty
    }

  // ------------------------------------------------------------ query API
  /** THE query path (reference `sql`, ducklakexl.py:387-397):
    * pull -> execute statements -> push -> return last SELECT's DataFrame.
    * A stale-push CAS rejection triggers ONE transparent replay of the
    * whole script on a freshly pulled base (bounded — a second rejection
    * propagates). The rejected attempt committed nothing, so the replay
    * is exactly the documented manual remedy ("re-run the statement"),
    * automated; its orphaned data files are the scheduled-deletion
    * sweep's.
    */
  def sql(script: String): DataFrame = withLakeConfs {
    val before = TxnSnapshot(state, macros, prepared, tempTables)
    try sqlOnce(script)
    catch {
      case _: java.util.ConcurrentModificationException =>
        // the rejected attempt committed nothing; roll session macro +
        // prepared-statement + temp-table registrations back too so the
        // replayed script re-runs cleanly (the replay pulls a fresh base)
        restoreTxnSnapshot(before)
        sqlOnce(script)
    }
  }

  /** session-lifetime scalar macros (CREATE MACRO) — the same lifetime
    * the reference's per-connection DuckDB catalog gives them
    */
  private var macros = Map.empty[String, (Seq[String], String)]

  /** session-lifetime prepared statements (PREPARE name AS …) */
  private var prepared = Map.empty[String, String]

  private def isTempTable(name: String): Boolean =
    !name.contains(".") && tempTables.contains(name.toLowerCase)

  private def putTempTable(name: String, df: DataFrame): Unit =
    tempTables += name.toLowerCase -> df.localCheckpoint(true)

  // ---- sequences: `ducklake_metadata` rows `seq:<name>` -> "last,incr[,drawn]"
  // (third field 0 = created but never drawn; absent in pre-r10 lakes =
  // treated as drawn, the safe reading for an already-used sequence)
  private def seqStateOf(name: String): (Long, Long, Boolean) =
    state.metadata.find(_._1 == s"seq:$name").map { case (_, v) =>
      val p = v.split(",")
      (p(0).toLong, p(1).toLong, p.length < 3 || p(2) != "0")
    }.getOrElse(throw new IllegalArgumentException(s"no such sequence: $name"))

  private def seqNext(name: String): Long = {
    val (last, incr, _) = seqStateOf(name)
    val n = last + incr
    state = state.copy(metadata = state.metadata
      .filterNot(_._1 == s"seq:$name") :+ (s"seq:$name" -> s"$n,$incr,1"))
    n
  }

  /** reserve `n` draws in one step: advances the head by n*incr through
    * the same CAS-pushed metadata as single draws (a conflicting writer
    * replays the whole script against re-pulled state, so ranges never
    * overlap) and returns (previous last, incr) — the caller assigns
    * last + incr*(i+1) for i in [0, n) */
  private def seqReserve(name: String, n: Long): (Long, Long) = {
    val (last, incr, _) = seqStateOf(name)
    if (n > 0)
      state = state.copy(metadata = state.metadata
        .filterNot(_._1 == s"seq:$name") :+
        (s"seq:$name" -> s"${last + incr * n},$incr,1"))
    (last, incr)
  }

  /** `INSERT INTO t SELECT nextval('s'), x FROM big` — the distributed-
    * safe sequence draw (r10): DuckDB draws row-at-a-time, which a
    * distributed scan cannot honor call-by-call, so the whole range is
    * reserved up front (one count pass), values assigned as
    * base + row_index*step in one distributed pass (contiguous indices
    * via per-partition offsets — no single-partition window), and the
    * advanced head commits through the same CAS push as the inserted
    * rows: both land atomically or the script replays. With m nextval
    * sites per sequence the row draws interleave left-to-right, exactly
    * the row-at-a-time order. At 100 TB this is two scans of the source
    * and zero extra shuffles.
    */
  private def executeInsertSelectSeq(s: StatementRouter.InsertSelect): Unit = {
    val parsed = StatementRouter.extractNextvalItems(s.select)
    require(parsed.isDefined,
      "nextval() over a scan is supported only as a top-level select " +
      "item (optionally aliased), e.g. INSERT INTO t SELECT nextval('s')" +
      ", x FROM src — nested in an expression or under DISTINCT, the " +
      "reserved-range assignment cannot see the call site")
    val (body, sites) = parsed.get
    // materialize ONCE: the count pass and the index pass must see the
    // SAME rows — a non-deterministic source (rand() filter) re-evaluated
    // for zipWithIndex could yield more rows than were reserved, pushing
    // draws past the reserved range into a concurrent writer's
    // (review-found). localCheckpoint pins the partitions.
    val df0 = sqlSelect((body)).localCheckpoint()
    val n = df0.count()
    val bySeq = sites.zipWithIndex.groupBy(_._1.seq) // preserve list order
    val reserved = bySeq.map { case (nm, ss) =>
      nm -> (seqReserve(nm, n * ss.size), ss.size)
    }
    // contiguous 0-based row index, distributed (zipWithIndex computes
    // per-partition counts, then offsets — never a global sort/window)
    val sch = StructType(df0.schema.fields :+
      StructField("__graft_rid", LongType, nullable = false))
    var out = spark.createDataFrame(
      df0.rdd.zipWithIndex.map { case (row, i) => Row.fromSeq(row.toSeq :+ i) },
      sch)
    bySeq.foreach { case (nm, ss) =>
      val ((last, incr), m) = reserved(nm)
      ss.map(_._1).zipWithIndex.foreach { case (site, j) =>
        out = out.withColumn(site.placeholder,
          (lit(last) + lit(incr) *
            (col("__graft_rid") * m + (j + 1))).cast(LongType))
      }
    }
    // BY NAME maps by the SOURCE's column names, so each nextval item
    // must carry its alias (DuckDB needs one there for the same reason);
    // positional inserts keep the placeholder names — mapping is by slot
    val outCols = df0.columns.map { c =>
      sites.find(_.placeholder == c) match {
        case Some(site) if s.byName =>
          val alias = site.alias.getOrElse(throw new IllegalArgumentException(
            "INSERT ... BY NAME needs an AS alias on each nextval() item " +
            "(the name picks the target column)"))
          col(s"`$c`").as(alias)
        case _ => col(s"`$c`")
      }
    }.toSeq
    val outDF = out.select(outCols: _*)
    if (s.byName) executeInsertDF(s.table, Some(outDF.columns.toSeq), outDF)
    else executeInsertDF(s.table, s.cols, outDF)
  }

  /** DuckDB errors on currval before the first nextval — the stored
    * `last` at that point is start-increment, a value the sequence never
    * produced, so returning it would fabricate a draw */
  private def seqCurr(name: String): Long = {
    val (last, _, drawn) = seqStateOf(name)
    require(drawn, s"currval: sequence '$name' has not been drawn yet " +
      "(call nextval first)")
    last
  }

  private def sqlOnce(script: String): DataFrame = withCatalogSync {
    var last: Option[DataFrame] = None
    // explicit-transaction scope: BEGIN snapshots (catalog, macros,
    // prepared statements, temp tables — DuckDB's temp schema and PREPARE
    // are transactional too), ROLLBACK restores them; COMMIT just closes
    // the scope (the push at the end of sql() is the durable commit,
    // unchanged)
    var txnBase: Option[TxnSnapshot] = None
    // DuckDB autocommits PER STATEMENT: a script that fails midway keeps
    // the earlier statements' effects (measured r17). Without this
    // error-path push the failing script's completed writes lived only
    // in memory and the next sql()'s pull() silently discarded them —
    // whole-script rollback, a divergence. Writes inside an OPEN
    // transaction still roll back to the BEGIN snapshot first (DuckDB's
    // aborted transaction is never durably committed either).
    def persistCompleted[T](body: => T): T =
      try body
      catch {
        case e: java.util.ConcurrentModificationException => throw e // CAS retry
        case scala.util.control.NonFatal(e) =>
          txnBase.foreach(restoreTxnSnapshot)
          // best-effort durability: if a concurrent writer won the CAS
          // meanwhile, the push failure must not REPLACE the user's
          // statement error — and must not trigger the CAS auto-replay
          // of a half-run script (which would re-run its statements
          // under a masked error). Attach it as suppressed; on this
          // contended path the completed statements stay memory-only
          // and the next sql() re-pulls fresh (r18, VERDICT r17 #5).
          try push()
          catch { case scala.util.control.NonFatal(pe) => e.addSuppressed(pe) }
          throw e
      }
    persistCompleted { withLakeCatalog { StatementRouter.split(script).foreach { stmt00 =>
      // the previous statement may have changed the catalog or the temp
      // tables: bring the session's views up to date before this one
      syncViews()
      // sequence draws evaluate TEXTUALLY on the driver (each occurrence
      // draws once, left to right) — sound for INSERT … VALUES and
      // FROM-less SELECTs. An INSERT … SELECT nextval(…) … FROM <scan>
      // instead routes to the distributed-draw path (r10): reserve a
      // count-sized range, assign base + row_index*incr per row, commit
      // the advanced head through the same CAS push. Anything else with
      // a per-row draw is refused loudly. currval is constant per
      // statement — safe anywhere.
      val stmt0 =
        if (!StatementRouter.hasCall(stmt00, "nextval") &&
            !StatementRouter.hasCall(stmt00, "currval")) stmt00
        else if (StatementRouter.hasCall(stmt00, "nextval")) {
          StatementRouter.classify(stmt00) match {
            case _: StatementRouter.InsertValues =>
              StatementRouter.rewriteSequenceCalls(stmt00)(seqNext, seqCurr)
            case StatementRouter.Select(q)
                if !StatementRouter.selectHasTopLevelFrom(q) =>
              StatementRouter.rewriteSequenceCalls(stmt00)(seqNext, seqCurr)
            case s: StatementRouter.InsertSelect
                if !StatementRouter.selectHasTopLevelFrom(s.select) =>
              StatementRouter.rewriteSequenceCalls(stmt00)(seqNext, seqCurr)
            case _: StatementRouter.InsertSelect =>
              // distributed draw: nextval survives to execution
              // (executeInsertSelectSeq); currval resolves now
              StatementRouter.rewriteCurrvalCalls(stmt00)(seqCurr)
            case _ =>
              throw new IllegalArgumentException(
                "nextval() is supported in INSERT ... VALUES, FROM-less " +
                "SELECTs, and INSERT ... SELECT over a scan (reserved-" +
                "range assignment); a per-row draw elsewhere cannot " +
                "honor sequence semantics")
          }
        } else StatementRouter.rewriteSequenceCalls(stmt00)(seqNext, seqCurr)
      // EXECUTE binds its arguments into the prepared body and the bound
      // statement re-enters the pipeline (macros, routing) like pasted
      // text; a nextval inside a prepared body reaches Spark unresolved
      // and fails LOUDLY (the sequence pre-pass saw only "EXECUTE ...")
      val stmtE = StatementRouter.classify(stmt0) match {
        case StatementRouter.Execute(n, args) =>
          val body = prepared.getOrElse(n,
            throw new IllegalArgumentException(s"no prepared statement: $n"))
          StatementRouter.bindPrepared(body, args)
        case _ => stmt0
      }
      // expand macro calls textually before re-classifying — but never
      // inside macro DDL itself (a CREATE OR REPLACE MACRO whose head
      // matches an existing macro must not expand its own signature)
      val (classified, stmtText) = StatementRouter.classify(stmtE) match {
        case m @ (_: StatementRouter.CreateMacro | _: StatementRouter.DropMacro) => (m, stmtE)
        case c if macros.isEmpty => (c, stmtE)
        case _ =>
          val x = StatementRouter.expandMacros(stmtE, macros)
          (StatementRouter.classify(x), x)
      }
      registerNamedMeta(stmtText) // SELECTs, DML fragments, view bodies
      val preSnap = state.currentSnapshot
      classified match {
        case s: StatementRouter.CreateTable if s.temp =>
          if (tempTables.contains(s.name.toLowerCase) && !s.orReplace) {
            if (!s.ifNotExists)
              throw new IllegalArgumentException(s"temp table exists: ${s.name}")
          } else {
            val schema = StructType(s.cols.map { case (n, t) =>
              StructField(n, CatalogSchema.parseType(t), true) })
            putTempTable(s.name, spark.createDataFrame(
              java.util.Collections.emptyList[Row](), schema))
          }
        case s: StatementRouter.CreateTableAs if s.temp =>
          if (tempTables.contains(s.name.toLowerCase) && !s.orReplace) {
            if (!s.ifNotExists)
              throw new IllegalArgumentException(s"temp table exists: ${s.name}")
          } else putTempTable(s.name, sqlSelect((s.select)))
        case s: StatementRouter.CreateTable =>
          if (s.orReplace) executeDrop(StatementRouter.DropTable(s.name, ifExists = true))
          executeCreate(s)
        case s: StatementRouter.CreateTableAs =>
          if (s.orReplace) executeDrop(StatementRouter.DropTable(s.name, ifExists = true))
          executeCtas(s)
        case s: StatementRouter.CopyTo        => executeCopy(s)
        case s: StatementRouter.CopyFrom      => executeCopyFrom(s)
        case s: StatementRouter.ExportDb      => executeExportDb(s)
        case s: StatementRouter.ImportDb      => executeImportDb(s)
        case s: StatementRouter.InsertValues if isTempTable(s.table) =>
          insertIntoTemp(s.table, s.cols, tempValuesDF(s.table, s.cols, s.valuesSql))
        case s: StatementRouter.InsertValues =>
          // a literal VALUES list is driver-sized by definition -> inlined
          // into the catalog (when enabled) or one data file per INSERT
          // (the DuckLake shape) — executeInsertDF decides; INSERT..SELECT
          // below keeps file-per-partition, the shape a distributed INSERT
          // produces
          executeInsertDF(s.table, s.cols, valuesDF(s.table, s.cols, s.valuesSql))
        case s: StatementRouter.InsertSelect if isTempTable(s.table) =>
          require(!StatementRouter.hasCall(s.select, "nextval") && !s.byName,
            "INSERT into a TEMP table takes a plain SELECT " +
            "(no sequences, no BY NAME)")
          insertIntoTemp(s.table, s.cols, sqlSelect((s.select)))
        case s: StatementRouter.InsertSelect =>
          if (StatementRouter.hasCall(s.select, "nextval"))
            executeInsertSelectSeq(s)
          else if (s.byName) {
            // BY NAME: the source's own column names pick the target
            // columns (order-free; unnamed table columns fill NULL) —
            // executeInsertDF's named path does exactly that mapping
            val body = if (s.select.startsWith("("))
              s"SELECT * FROM ${s.select}" else s.select
            val df = sqlSelect((body))
            executeInsertDF(s.table, Some(df.columns.toSeq), df)
          } else
            executeInsertDF(s.table, s.cols, sqlSelect((s.select)))
        case s: StatementRouter.Delete if isTempTable(s.table) =>
          throw new IllegalArgumentException(
            s"DELETE on TEMP table ${s.table} is not supported — " +
            "recreate it with CREATE OR REPLACE TEMP TABLE … AS SELECT")
        case s: StatementRouter.Update if isTempTable(s.table) =>
          throw new IllegalArgumentException(
            s"UPDATE on TEMP table ${s.table} is not supported — " +
            "recreate it with CREATE OR REPLACE TEMP TABLE … AS SELECT")
        case s: StatementRouter.Merge if isTempTable(s.table) =>
          throw new IllegalArgumentException(
            s"MERGE into TEMP table ${s.table} is not supported — " +
            "recreate it with CREATE OR REPLACE TEMP TABLE … AS SELECT")
        case s: StatementRouter.Returning =>
          last = Some(executeReturning(s))
        case s: StatementRouter.Delete        => executeDelete(s)
        case s: StatementRouter.Merge         => executeMerge(s)
        case s: StatementRouter.InsertOnConflict => executeUpsert(s)
        case s: StatementRouter.Update        => executeUpdate(s)
        case s: StatementRouter.DropTable if isTempTable(s.name) =>
          // DuckDB's search path: a bare DROP TABLE hits temp first
          tempTables -= s.name.toLowerCase
        case s: StatementRouter.DropTable     => executeDrop(s)
        case s: StatementRouter.AlterTable    => executeAlter(s)
        case s: StatementRouter.CreateView    => executeCreateView(s)
        case s: StatementRouter.DropView      => executeDropView(s)
        case StatementRouter.Use(name) =>
          // USE <lake> | USE <schema> | USE <lake>.<schema>
          val parts = name.split('.')
          val schemaPart =
            if (parts.length == 2) {
              require(parts(0).equalsIgnoreCase(lakeName),
                s"unknown catalog: ${parts(0)}")
              Some(parts(1))
            } else if (parts(0).equalsIgnoreCase(lakeName)) None
            else Some(parts(0))
          schemaPart.foreach { sn =>
            require(state.schemaByName(sn).isDefined, s"unknown catalog/schema: $sn")
            curSchema = state.schemaByName(sn).get.schemaName
            spark.catalog.setCurrentDatabase(curSchema)
          }
        case s: StatementRouter.CreateSequence =>
          val key = s"seq:${s.name}"
          val exists = state.metadata.exists(_._1 == key)
          if (!(exists && s.ifNotExists)) {
            require(!exists || s.orReplace, s"sequence exists: ${s.name} " +
              "(use CREATE OR REPLACE SEQUENCE)")
            require(s.incr != 0, "CREATE SEQUENCE: INCREMENT must be nonzero")
            state = state.copy(metadata = state.metadata
              .filterNot(_._1 == key) :+ (key -> s"${s.start - s.incr},${s.incr},0"))
          }
        case s: StatementRouter.DropSequence =>
          val key = s"seq:${s.name}"
          require(s.ifExists || state.metadata.exists(_._1 == key),
            s"no such sequence: ${s.name}")
          state = state.copy(metadata = state.metadata.filterNot(_._1 == key))
        case s: StatementRouter.CreateSchema => executeCreateSchema(s)
        case s: StatementRouter.DropSchema   => executeDropSchema(s)
        case a: StatementRouter.Attach =>
          // validate-or-noop: the lake is attached by the constructor; a
          // replayed reference init script (ducklakexl.py:236) must pass
          // through, but attaching a DIFFERENT lake name is a user error
          a.alias.foreach(al => require(al.equalsIgnoreCase(lakeName),
            s"ATTACH alias '$al' does not match this lake: $lakeName"))
        case StatementRouter.Detach => // noop — attachment is the object's lifetime
        case s: StatementRouter.CommentOn => executeComment(s)
        case StatementRouter.NoOp => // CREATE INDEX etc. — accepted, dropped
        case StatementRouter.Prepare(n, body) =>
          prepared += (n -> body)
        case StatementRouter.Deallocate(n, ife) =>
          require(ife || prepared.contains(n), s"no prepared statement: $n")
          prepared -= n
        case _: StatementRouter.Execute =>
          throw new IllegalStateException("unreachable: EXECUTE binds before routing")
        case StatementRouter.Begin =>
          require(txnBase.isEmpty, "transaction is already active")
          txnBase = Some(TxnSnapshot(state, macros, prepared, tempTables))
        case StatementRouter.Commit =>
          require(txnBase.isDefined, "no transaction is active")
          txnBase = None
        case StatementRouter.Rollback =>
          // restore the catalog + macro registry to the BEGIN snapshot:
          // everything the transaction wrote disappears (any parquet
          // written in between is unreferenced — vacuum's job, like any
          // aborted writer's files). ROLLBACK as a silent no-op KEPT the
          // rolled-back writes before r10.
          require(txnBase.isDefined, "no transaction is active")
          restoreTxnSnapshot(txnBase.get)
          txnBase = None
        case StatementRouter.SetOption(k, v) =>
          // TimeZone is the one DuckDB session option with a direct Spark
          // analogue; others configure an engine this build does not run —
          // but every SET is recorded so current_setting('k') reads back
          val t = v.trim
          // a '…'-quoted value unescapes doubled quotes; "…" strips too
          val cleaned =
            if (t.length >= 2 && t.head == '\'' && t.last == '\'')
              t.substring(1, t.length - 1).replace("''", "'")
            else if (t.length >= 2 && t.head == '"' && t.last == '"')
              t.substring(1, t.length - 1)
            else t
          sessionOptions(k.toLowerCase) = cleaned
          if (k.equalsIgnoreCase("timezone"))
            spark.conf.set("spark.sql.session.timeZone", cleaned)
        case StatementRouter.SetVariable(n, e) =>
          // evaluate ONCE now (DuckDB semantics) — the expr may reference
          // lake tables/macros, so it rides the full select pipeline
          sessionVariables(n.toLowerCase) =
            renderSqlLiteral(sqlSelect((s"SELECT $e")).head().get(0))
        case StatementRouter.ResetVariable(n) =>
          sessionVariables.remove(n.toLowerCase)
        case StatementRouter.Vacuum => vacuumLocal()
        case StatementRouter.ShowTables => last = Some(showTables())
        case StatementRouter.ShowDatabases =>
          last = Some(spark.createDataFrame(
            Seq(Row(lakeName), Row(s"__ducklake_metadata_$lakeName")).asJava,
            StructType(Seq(StructField("database_name", StringType, false)))))
        case StatementRouter.ShowSchemas =>
          last = Some(spark.createDataFrame(
            state.liveSchemas().sortBy(_.schemaName)
              .map(sc => Row(sc.schemaName)).asJava,
            StructType(Seq(StructField("schema_name", StringType, false)))))
        case StatementRouter.Describe(name) => last = Some(describeTable(name))
        case StatementRouter.TableInfo(name) => last = Some(tableInfo(name))
        case StatementRouter.DatabaseSize => last = Some(databaseSize())
        case StatementRouter.VersionInfo => last = Some(versionInfo())
        case StatementRouter.DescribeQuery(sel) => last = Some(describeQuery(sel))
        case StatementRouter.Summarize(name) => last = Some(summarizeTable(name))
        case s: StatementRouter.CreateMacro =>
          require(s.orReplace || !macros.contains(s.name),
            s"macro ${s.name} already exists (use CREATE OR REPLACE MACRO)")
          macros += s.name -> ((s.params, s.body))
        case s: StatementRouter.DropMacro =>
          require(s.ifExists || macros.contains(s.name), s"no such macro: ${s.name}")
          macros -= s.name
        case s: StatementRouter.Pivot => last = Some(executePivot(s))
        case StatementRouter.ExplainAnalyze(q) =>
          // run the query (noop sink — full materialization, no driver
          // collect), then render the EXECUTED plan with runtime SQL
          // metrics, the Spark analogue of DuckDB's profiled plan
          val df = sqlSelect((q))
          // execute THIS plan instance (a .write/.count would build a new
          // QueryExecution whose metrics land on different plan nodes):
          // full materialization, nothing collected to the driver
          val t0 = System.nanoTime()
          df.queryExecution.executedPlan.execute().foreach(_ => ())
          val wallMs = (System.nanoTime() - t0) / 1e6
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          val lines = scala.collection.mutable.ArrayBuffer[String]()
          lines += f"total wall time: $wallMs%.1f ms"
          def walk(p: SparkPlan, depth: Int): Unit = {
            val m = p.metrics.toSeq.sortBy(_._1)
              .filter(_._2.value > 0)
              .map { case (k, v) => s"$k=${v.value}" }.mkString(", ")
            lines += ("  " * depth + p.nodeName + (if (m.nonEmpty) s" [$m]" else ""))
            p match {
              case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
              case qs: QueryStageExec       => walk(qs.plan, depth + 1)
              case _ => p.children.foreach(walk(_, depth + 1))
            }
          }
          walk(df.queryExecution.executedPlan, 0)
          last = Some(spark.createDataFrame(
            lines.toSeq.map(Row(_)).asJava,
            StructType(Seq(StructField("explain_analyze", StringType, false)))))
        case StatementRouter.Explain(q) =>
          // the formatted physical plan as rows (DuckDB pass-through gives
          // the reference EXPLAIN for free; here it is Catalyst's plan)
          val lines = sqlSelect((q)).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            .linesIterator.toSeq
          last = Some(spark.createDataFrame(
            lines.map(Row(_)).asJava,
            StructType(Seq(StructField("plan", StringType, false)))))
        case StatementRouter.Select(q) =>
          // percent limit needs the total row count: run the inner query,
          // count (one distributed aggregate — the same pass DuckDB's own
          // percent limit pays), then floor(n*pct/100) as a plain limit.
          // Ordered queries stay ordered (limit-on-sort is Spark's top-k).
          last = Some(StatementRouter.stripPercentLimit(q) match {
            case Some((inner, pct)) =>
              val df0 = sqlSelect((inner))
              // the count pass and the limit pass must see the SAME rows:
              // a non-deterministic inner query (rand() filter, uuid())
              // re-evaluated for the limit could return a row set the
              // count was never true of — pin the draw with a checkpoint,
              // exactly like the nextval count pass (review-found). A
              // deterministic query skips the materialization.
              val volatileQ = df0.queryExecution.analyzed
                .exists(_.expressions.exists(_.find(!_.deterministic).isDefined))
              val df = if (volatileQ) df0.localCheckpoint(true) else df0
              val k = math.floor(df.count() * pct / 100.0).toLong
              df.limit(math.min(k, Int.MaxValue.toLong).toInt)
            case None =>
              metadataCountStar(q).getOrElse(sqlSelect((q)))
          })
      }
      // `ducklake_snapshot_changes` audit trail: label every snapshot the
      // statement produced (a CTAS makes two: create + insert)
      val postSnap = state.currentSnapshot
      if (postSnap > preSnap) {
        val label = changeLabel(classified)
        state = state.copy(snapshotChanges = state.snapshotChanges ++
          ((preSnap + 1) to postSnap).map(SnapshotChangeRow(_, label)))
      }
    } } }
    // transactions are SCRIPT-scoped (txnBase is method-local by design —
    // the reference's persistent-connection txn scope cannot survive the
    // pull/push bracket). A BEGIN left open at end of script must NOT be
    // durably committed by the end-of-script push (DuckDB never durably
    // commits an unclosed transaction): restore the BEGIN snapshot, then
    // fail LOUDLY so the writer learns the writes were discarded.
    txnBase.foreach { base =>
      restoreTxnSnapshot(base)
      push() // the push persists the restored (pre-BEGIN) catalog
      throw new IllegalStateException(
        "transaction left open at end of sql() script: transactions are " +
        "script-scoped — COMMIT or ROLLBACK before the script ends " +
        "(uncommitted writes were rolled back, not committed)")
    }
    last.getOrElse(spark.emptyDataFrame)
  }

  /** Everything a BEGIN must capture so ROLLBACK is complete: catalog,
    * macros, prepared statements, and temp tables (DuckDB's temp schema
    * and PREPARE are transactional — a CREATE TEMP TABLE inside
    * BEGIN…ROLLBACK must not survive). */
  private case class TxnSnapshot(
      state: CatalogState,
      macros: Map[String, (Seq[String], String)],
      prepared: Map[String, String],
      tempTables: Map[String, DataFrame])

  /** Restore session registries to a snapshot (ROLLBACK, the
    * end-of-script open-transaction guard and `sql()`'s CAS replay share
    * this). The session's temp views follow at the next [[syncViews]]. */
  private def restoreTxnSnapshot(base: TxnSnapshot): Unit = {
    state = base.state
    macros = base.macros
    prepared = base.prepared
    tempTables = base.tempTables
  }

  /** DuckLake-style `changes_made` summary for the audit sheet */
  private def changeLabel(st: StatementRouter.Stmt): String = st match {
    case s: StatementRouter.Returning     => changeLabel(s.inner)
    case s: StatementRouter.CreateTable   => s"created_table:${s.name}"
    case s: StatementRouter.CreateTableAs => s"created_table:${s.name}"
    case s: StatementRouter.InsertValues  => s"inserted_into_table:${s.table}"
    case s: StatementRouter.InsertSelect  => s"inserted_into_table:${s.table}"
    case s: StatementRouter.CopyFrom      => s"inserted_into_table:${s.table}"
    case _: StatementRouter.ImportDb      => "imported_database"
    case s: StatementRouter.Delete        => s"deleted_from_table:${s.table}"
    case s: StatementRouter.Update        => s"updated_table:${s.table}"
    case s: StatementRouter.Merge         => s"merged_into_table:${s.table}"
    case s: StatementRouter.InsertOnConflict => s"merged_into_table:${s.table}"
    case s: StatementRouter.DropTable     => s"dropped_table:${s.name}"
    case s: StatementRouter.AlterTable    => s"altered_table:${s.table}"
    case s: StatementRouter.CreateView    => s"created_view:${s.name}"
    case s: StatementRouter.DropView      => s"dropped_view:${s.name}"
    case s: StatementRouter.CommentOn     => s"commented:${s.table}"
    case s: StatementRouter.CreateSchema  => s"created_schema:${s.name}"
    case s: StatementRouter.DropSchema    => s"dropped_schema:${s.name}"
    case _ => "other"
  }

  /** `COMMENT ON …` -> DuckLake tag rows (key='comment') with snapshot
    * lifetimes: the previous value's lifetime ends, the new one begins
    */
  private def executeComment(s: StatementRouter.CommentOn): Unit = {
    val t = requireTable(s.table)
    val snap = state.currentSnapshot + 1
    s.column match {
      case None =>
        val ended = state.tags.map(x =>
          if (x.objectId == t.tableId && x.key == "comment" && x.endSnapshot.isEmpty)
            x.copy(endSnapshot = Some(snap)) else x)
        state = state.copy(tags = ended ++
          s.comment.map(c => TagRow(t.tableId, snap, None, "comment", c)).toVector)
      case Some(colName) =>
        val c = state.columnsOf(t.tableId)
          .find(_.columnName.equalsIgnoreCase(colName)).getOrElse(
            throw new IllegalArgumentException(s"no such column: $colName"))
        val ended = state.columnTags.map(x =>
          if (x.tableId == t.tableId && x.columnId == c.columnId &&
              x.key == "comment" && x.endSnapshot.isEmpty)
            x.copy(endSnapshot = Some(snap)) else x)
        state = state.copy(columnTags = ended ++
          s.comment.map(cm => ColumnTagRow(t.tableId, c.columnId, snap, None, "comment", cm)).toVector)
    }
    newSnapshot(state.nextCatalogId, state.nextFileId)
  }

  // --------------------------------------------- time travel + snapshots
  // Qualified names (`my_ducklake.main.t`, `main.t`) need NO rewrite
  // anymore: the DSv2 [[DuckLakeCatalog]] resolves them inside Catalyst
  // (the former `QualRe`/`MainRe` regex strips are gone — an alias
  // legitimately named `main` now parses fine). Only the DuckDB travel
  // spelling `t AT (VERSION|TIMESTAMP => …)` and BARE-name travel still
  // rewrite: Spark's native `VERSION AS OF` works on catalog-qualified
  // names, while a bare name would resolve to a temp view (no travel), so
  // bare travel pins a snapshot temp view via [[tableAt]] instead.
  import DuckLakeXLSpark._

  /** DML expression fragments (DELETE WHERE, UPDATE SET, MERGE ON/SET,
    * INSERT VALUES bodies) are user DuckDB SQL like any SELECT — they
    * MUST ride the dialect rewrites before `expr()`: a raw `tags[1]` in a
    * DELETE predicate would run 0-based and delete the WRONG rows (the
    * silent off-by-one the rewrite layer exists to prevent; review-found)
    */
  private def dexpr(e: String): Column =
    expr(StatementRouter.rewriteDialect(StatementRouter.sparkifyLiterals(e)))

  /** the synthesized ENUM membership check — DuckDB-dialect text so it
    * rides the check column-tag round-trip like a user CHECK (r14).
    * The name must stay BARE: dexpr's Spark-side parse reads a
    * double-quoted token as a string literal, so exotic names that
    * would need quoting are refused loudly instead of silently
    * mis-checking. */
  private def enumCheckExpr(col: String, members: Seq[String]): String = {
    require(col.nonEmpty && (col.head.isLetter || col.head == '_') &&
        col.forall(c => c.isLetterOrDigit || c == '_'),
      s"ENUM column needs a plain identifier name (got '$col')")
    col + " IN " + members.map(m => "'" + m.replace("'", "''") + "'")
      .mkString("(", ", ", ")")
  }

  /** BIT's synthesized valid-bitstring check (same tag machinery) */
  private def bitCheckExpr(col: String): String = {
    require(col.nonEmpty && (col.head.isLetter || col.head == '_') &&
        col.forall(c => c.isLetterOrDigit || c == '_'),
      s"BIT column needs a plain identifier name (got '$col')")
    s"regexp_full_match($col, '[01]*')"
  }

  private val RecCteRe =
    """(?is)^\s*WITH\s+RECURSIVE\s+("?\w+"?)\s*(?:\(([^)]*)\))?\s*AS\s*\(""".r

  /** DuckDB's `WITH RECURSIVE name AS (anchor UNION step) …` — the
    * cycle-safe closure spelling (terminates WITHOUT a depth guard:
    * already-seen rows neither re-emit nor re-enter the working table).
    * Spark 4 executes only the UNION ALL form natively, so the distinct
    * form runs here as SEMI-NAIVE iteration — which IS SQL's recursive
    * semantics: the working table each round is the PREVIOUS round's new
    * rows; step output dedups against everything produced so far. Each
    * round localCheckpoints the two frames (lineage truncation, the CC
    * pattern), the only driver materialization is a 1-row emptiness
    * probe, and a non-converging query fails LOUDLY at the iteration
    * cap. UNION ALL bodies pass through to Spark untouched.
    */
  private def rewriteRecursiveUnion(q0: String): String = {
    val m = RecCteRe.findPrefixMatchOf(q0).getOrElse(return q0)
    val open = m.end - 1
    val close = StatementRouter.matchingParen(q0, open)
    val body = q0.substring(open + 1, close)
    val (anchor, tailOpt) = StatementRouter.splitTopLevelKeyword(body, "UNION")
    if (tailOpt.isEmpty) return q0
    val tail = tailOpt.get
    if ("""(?is)^ALL\b""".r.findFirstIn(tail).isDefined)
      return q0 // UNION ALL -> Spark-native recursion
    val step = """(?is)^DISTINCT\b""".r.replaceFirstIn(tail, "").trim
    val name = m.group(1).stripPrefix("\"").stripSuffix("\"")
    val cols = Option(m.group(2)).map(_.split(',').toSeq
      .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
    val viewName = s"__rec_${name}_${DuckLakeXLSpark.fileViewSeq.incrementAndGet()}"
    // identifier-substitute the CTE name (word-bounded, not after a dot,
    // outside string literals) — a unique view name cannot shadow a lake
    // table for later statements the way reusing the CTE name would
    def subst(s: String): String = StatementRouter.mapOutsideLiterals(s)(
      _.replaceAll("(?i)(?<![\\w.\"])" +
        java.util.regex.Pattern.quote(name) + "\\b", viewName))
    def shape(df: DataFrame, like: Option[DataFrame]): DataFrame = {
      val named = cols match {
        case Some(cs) => df.toDF(cs: _*)
        case None => like.map(l => df.toDF(l.columns: _*)).getOrElse(df)
      }
      // align step types to the anchor's (DuckDB unifies; except() insists)
      like match {
        case Some(l) => named.select(l.schema.fields.map(f =>
          col(s"`${f.name}`").cast(f.dataType)).toSeq: _*)
        case None => named
      }
    }
    var acc = shape(sqlSelect((anchor)).distinct(), None)
      .localCheckpoint()
    var frontier = acc
    var iter = 0
    // DuckDB loops forever on a non-converging recursion; a loud cap is
    // the distributed-job-friendly stand-in (each round is a Spark job)
    val cap = spark.conf.getOption("spark.graft.recursionCap")
      .map(_.toInt).getOrElse(1000)
    while (!frontier.isEmpty) {
      iter += 1
      require(iter <= cap,
        s"WITH RECURSIVE '$name' did not converge within $cap iterations " +
        "(UNION-distinct recursion only terminates when the step stops " +
        "producing new rows)")
      statementView(viewName, frontier)
      val next = shape(sqlSelect((subst(step))).distinct(), Some(acc))
        .except(acc).localCheckpoint()
      if (!next.isEmpty) acc = acc.unionAll(next).localCheckpoint()
      frontier = next
    }
    statementView(viewName, acc)
    val rest0 = q0.substring(close + 1).trim
    val rest =
      if (rest0.startsWith(","))
        "WITH RECURSIVE " + rest0.drop(1).trim // further CTEs keep recursion
      else rest0
    rewriteRecursiveUnion(subst(rest))
  }

  /** routed SELECT text -> DataFrame, with the type-aware post-analysis
    * fixes a textual dialect rewrite cannot make: `DATE - DATE` becomes
    * a day COUNT (DuckDB: BIGINT days) instead of Spark's
    * `INTERVAL '…' DAY` — the operand types are only known after
    * analysis, so the swap happens on the analyzed plan (r12
    * differential-barrage finding).
    */
  private def integralType(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  private def sqlSelect(q: String): org.apache.spark.sql.DataFrame = {
    // parse -> DuckDB-lattice coercion repair -> analyze: set-op branch
    // typing, VALUES/CASE/COALESCE/greatest/IN literal coercions must be
    // fixed BEFORE Spark's ANSI coercion resolves them differently
    // (r14 coercion barrage, graft.lake.CoercionRepair)
    val parsed = org.apache.spark.sql.graftshim.ParserBridge
      .parsePlan(spark, rewriteSelect(q))
    val df = org.apache.spark.sql.graftshim.DatasetBridge.ofRows(spark,
      graft.lake.CoercionRepair.preAnalysis(spark, parsed))
    import org.apache.spark.sql.catalyst.expressions.{Cast, DateDiff, SubtractDates, TimeAddInterval, TimestampAddInterval}
    import org.apache.spark.sql.types.{ArrayType, CalendarIntervalType, DayTimeIntervalType, MapType, StringType, StructType, TimestampType, YearMonthIntervalType}
    val analyzed0 = df.queryExecution.analyzed
    def containerCmp(l: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      l.dataType match {
        case _: ArrayType | _: StructType => true
        case _ => false
      }
    // ORDER BY over nested types: Spark's ordering puts NULL
    // elements/fields SMALLEST where DuckDB puts them LARGEST (measured
    // r19: [1,2] < [1,NULL], [2] < [NULL], [inf] < [nan] < [NULL]) —
    // silently different row order and top-k membership. Wrap only
    // nested-typed sort keys in the memcomparable
    // [[graft.functions.DuckSortKey]]; scalar sorts keep Spark's native
    // codegen path. MAP keys refuse loudly inside DuckSortKey.
    val analyzed = analyzed0.transform {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
          if s.order.exists(so => containerCmp(so.child)) =>
        s.copy(order = s.order.map { so =>
          if (containerCmp(so.child))
            so.copy(child = graft.functions.DuckSortKey(so.child))
          else so
        })
      // the Window NODE carries its own orderSpec (extracted by the
      // analyzer from the per-expression specs) — the physical sort
      // runs off it, so it needs the same key wrap
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.orderSpec.exists(so => containerCmp(so.child)) =>
        w.copy(orderSpec = w.orderSpec.map { so =>
          if (containerCmp(so.child))
            so.copy(child = graft.functions.DuckSortKey(so.child))
          else so
        })
    }
    val fixed = analyzed.transformAllExpressions {
      case s: SubtractDates => DateDiff(s.left, s.right)
      // DATE ± INTERVAL is a TIMESTAMP in DuckDB for EVERY interval
      // flavor (measured r17: typeof(DATE + INTERVAL 1 DAY/MONTH) =
      // TIMESTAMP, value midnight-based); Spark keeps whole-day and
      // year-month interval arithmetic in DATE. Only the
      // interval-sourced shapes rewrite — date_add(d, int) and
      // d + int stay DATE on both engines.
      case org.apache.spark.sql.catalyst.expressions.DateAdd(d, iv)
          if iv.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.ExtractANSIIntervalDays]) =>
        val stripped = iv.transform {
          case x: org.apache.spark.sql.catalyst.expressions.ExtractANSIIntervalDays =>
            x.child
        }
        TimestampAddInterval(
          Cast(d, org.apache.spark.sql.types.TimestampNTZType), stripped)
      case org.apache.spark.sql.catalyst.expressions.DateAddYMInterval(d, ym) =>
        org.apache.spark.sql.catalyst.expressions.TimestampAddYMInterval(
          Cast(d, org.apache.spark.sql.types.TimestampNTZType), ym)
      // interval * / a NON-integer factor is a DuckDB binder error;
      // Spark would silently compute the fractional interval — refuse
      // loudly (integer factors on interval LITERALS already routed to
      // the per-field natives pre-analysis; r14 interval barrage)
      case m: org.apache.spark.sql.catalyst.expressions.MultiplyDTInterval
          if !integralType(m.num.dataType) =>
        throw new IllegalArgumentException(
          "interval * non-integer has no DuckDB overload (binder error there)")
      case m: org.apache.spark.sql.catalyst.expressions.MultiplyYMInterval
          if !integralType(m.num.dataType) =>
        throw new IllegalArgumentException(
          "interval * non-integer has no DuckDB overload (binder error there)")
      case d: org.apache.spark.sql.catalyst.expressions.DivideDTInterval
          if !integralType(d.num.dataType) =>
        throw new IllegalArgumentException(
          "interval / non-integer has no DuckDB overload (binder error there)")
      case d: org.apache.spark.sql.catalyst.expressions.DivideYMInterval
          if !integralType(d.num.dataType) =>
        throw new IllegalArgumentException(
          "interval / non-integer has no DuckDB overload (binder error there)")
      // CAST(container AS VARCHAR) — DuckDB renders structs with their
      // field names, maps as {k=v}, NULLs uppercase (r13 struct/map
      // differential); BLOBs render printable-ASCII-or-\xHH (r13
      // hashbit differential). The element types are only known
      // post-analysis.
      case c: Cast if c.dataType == StringType && (c.child.dataType match {
            case _: ArrayType | _: MapType | _: StructType |
                 org.apache.spark.sql.types.BinaryType => true
            case _ => false
          }) =>
        graft.functions.DuckVarcharCast(c.child)
      // CAST(interval AS VARCHAR) — DuckDB's canonical interval text
      // ("1 day 02:00:00"), not Spark's ANSI INTERVAL literal form; a
      // timestamp DIFFERENCE additionally splits whole days out of the
      // micros (measured: 26h renders "1 day 02:00:00", while a plain
      // INTERVAL '26 hours' stays "26:00:00")
      case c: Cast if c.dataType == StringType && (c.child.dataType match {
            case _: DayTimeIntervalType | _: YearMonthIntervalType |
                 CalendarIntervalType => true
            case _ => false
          // DATE - DATE is a day COUNT in DuckDB, not an interval: the
          // SubtractDates -> DateDiff swap below owns that shape (the
          // child turns BIGINT under this very Cast)
          }) && !c.child.exists(_.isInstanceOf[SubtractDates]) =>
        // whole days split out whenever the interval TYPE starts at DAY
        // (DuckDB keeps a separate days field there: INTERVAL 1 DAY is
        // '1 day', a timestamp difference is '1 day 02:00:00', while
        // INTERVAL 26 HOUR — startField HOUR — stays '26:00:00'; all
        // measured, r14 coercion barrage)
        c.child.dataType match {
          case dt: DayTimeIntervalType if dt.startField == DayTimeIntervalType.DAY =>
            graft.functions.IntervalText(graft.functions.IntervalDaysSplit(c.child))
          case _ => graft.functions.IntervalText(c.child)
        }
      // CAST(tstz AS VARCHAR) — instant render carries the '+00' suffix;
      // tz-ness is a tree property traced through TsTzTag (r13 tz
      // differential)
      case c: Cast if c.dataType == StringType &&
          c.child.dataType == TimestampType &&
          graft.functions.TzTrace.tagged(c.child) =>
        graft.functions.TsTzVarchar(c.child)
      // x AT TIME ZONE z: dispatch on the INPUT's tz-ness — naive wall
      // clock -> tagged instant, instant -> naive wall clock (custom
      // convert: DuckDB resolves ambiguous fall-back times to the LATER
      // instant, java.time defaults to the earlier — measured)
      case graft.functions.AtTimeZoneResolve(x, z) =>
        if (graft.functions.TzTrace.tagged(x))
          graft.functions.NaiveTag(graft.functions.InstantToWall(x, z))
        else
          graft.functions.TsTzTag(graft.functions.WallToInstant(x, z))
      // TIME ± INTERVAL wraps modulo 24h in DuckDB; Spark's builtin
      // raises DATETIME_OVERFLOW past midnight
      case t: TimeAddInterval =>
        graft.functions.TimeAddWrap(t.time, t.interval)
      // ---- r13 cast differential (functions/DuckCast) ----
      // DOUBLE/FLOAT -> VARCHAR: DuckDB's shortest-repr render
      // ('1e+16', '0.0001', 'inf'; Spark says '1.0E16' / 'Infinity')
      case c: Cast if c.dataType == StringType &&
          (c.child.dataType == org.apache.spark.sql.types.DoubleType ||
           c.child.dataType == org.apache.spark.sql.types.FloatType) =>
        graft.functions.DuckDoubleVarchar(c.child)
      // numeric/string -> integral: per-source rounding (double half
      // EVEN, decimal/string half AWAY), spaces/'+'/scientific in
      // strings, range overflow loud (TRY -> NULL)
      case c: Cast if (c.dataType match {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType => true
            case _ => false
          }) && (c.child.dataType match {
            case org.apache.spark.sql.types.DoubleType |
                 org.apache.spark.sql.types.FloatType | StringType => true
            case _: org.apache.spark.sql.types.DecimalType => true
            case _ => false
          }) =>
        graft.functions.DuckIntegralCast(c.child, c.dataType,
          c.evalMode == org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
      // DECIMAL scale-down TRUNCATES in DuckDB (Spark rounds half-up)
      case c: Cast if ((c.dataType, c.child.dataType) match {
            case (d: org.apache.spark.sql.types.DecimalType,
                  s: org.apache.spark.sql.types.DecimalType) => d.scale < s.scale
            case _ => false
          }) =>
        val d = c.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType]
        graft.functions.DuckDecimalDown(c.child, d.precision, d.scale,
          c.evalMode == org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
      // string -> BOOLEAN: t/f/1/0/true/false only ('yes' is Spark-true
      // but a DuckDB conversion error)
      case c: Cast if c.dataType == org.apache.spark.sql.types.BooleanType &&
          c.child.dataType == StringType =>
        graft.functions.DuckBoolFromString(c.child,
          c.evalMode == org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
      // container =/< comparisons are THREE-VALUED in DuckDB (a NULL
      // element before any decided inequality makes the result NULL);
      // Spark treats NULL elements as equal values. EqualNullSafe
      // (IS [NOT] DISTINCT FROM) matches natively and stays put.
      case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r)
          if containerCmp(l) => graft.functions.DuckContainerCompare(l, r, "=")
      case org.apache.spark.sql.catalyst.expressions.LessThan(l, r)
          if containerCmp(l) => graft.functions.DuckContainerCompare(l, r, "<")
      case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(l, r)
          if containerCmp(l) => graft.functions.DuckContainerCompare(l, r, "<=")
      case org.apache.spark.sql.catalyst.expressions.GreaterThan(l, r)
          if containerCmp(l) => graft.functions.DuckContainerCompare(l, r, ">")
      case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(l, r)
          if containerCmp(l) => graft.functions.DuckContainerCompare(l, r, ">=")
      // ---- r19 nested-ordering differential ----
      // min/max AGGREGATES over nested types: DuckDB's inner-NULL-
      // largest total order (measured max over {[1],[NULL],[1,2]} =
      // [NULL]; Spark's ordering answers [1,2]) — re-expressed as
      // min_by/max_by over the memcomparable key (NULL keys are skipped
      // by MinBy/MaxBy, matching min/max NULL-skip semantics)
      case org.apache.spark.sql.catalyst.expressions.aggregate.Min(c)
          if containerCmp(c) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(
          c, graft.functions.DuckSortKey(c))
      case org.apache.spark.sql.catalyst.expressions.aggregate.Max(c)
          if containerCmp(c) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(
          c, graft.functions.DuckSortKey(c))
      // window ORDER BY over nested keys takes the same memcomparable
      // key (row_number() OVER (ORDER BY <list col>) must walk DuckDB's
      // order); PARTITION BY keys stay put — grouping equality matches
      case w: org.apache.spark.sql.catalyst.expressions.WindowSpecDefinition
          if w.orderSpec.exists(so => containerCmp(so.child)) =>
        w.copy(orderSpec = w.orderSpec.map { so =>
          if (containerCmp(so.child))
            so.copy(child = graft.functions.DuckSortKey(so.child))
          else so
        })
      // list_min/list_max over NESTED element types: NULL elements
      // skipped, extremes by the DuckDB order (measured
      // list_max([[1,NULL],[1,2]]) = [1,NULL])
      case am: org.apache.spark.sql.catalyst.expressions.ArrayMin
          if (am.child.dataType match {
            case ArrayType(_: ArrayType | _: StructType, _) => true
            case _ => false
          }) => graft.functions.DuckNestedExtreme(am.child, isMax = false)
      case am: org.apache.spark.sql.catalyst.expressions.ArrayMax
          if (am.child.dataType match {
            case ArrayType(_: ArrayType | _: StructType, _) => true
            case _ => false
          }) => graft.functions.DuckNestedExtreme(am.child, isMax = true)
      // list_sort/list_reverse_sort over NESTED element types: inner
      // NULLs largest (measured list_sort([[1],[NULL],NULL,[1,2]]) =
      // [[1],[1,2],[NULL],NULL]); each spelling keeps its NULL-element
      // placement (array_sort/desc last, sort_array-asc first)
      // ONLY the default-comparator ArraySort is the dialect's 1-arg
      // list_sort (recognized by its If(And(IsNull,IsNull),…) head);
      // the router's own list(v ORDER BY k) rewrite emits a CUSTOM
      // CaseWhen comparator over ('n','k','v') structs and must keep it
      case s: org.apache.spark.sql.catalyst.expressions.ArraySort
          if (s.argument.dataType match {
            case ArrayType(_: ArrayType | _: StructType, _) => true
            case _ => false
          }) && (s.function match {
            case org.apache.spark.sql.catalyst.expressions.LambdaFunction(
              org.apache.spark.sql.catalyst.expressions.If(
                org.apache.spark.sql.catalyst.expressions.And(
                  _: org.apache.spark.sql.catalyst.expressions.IsNull,
                  _: org.apache.spark.sql.catalyst.expressions.IsNull),
                _, _), _, _) => true
            case _ => false
          }) =>
        graft.functions.DuckNestedSort(s.argument, asc = true,
          nullsFirst = false)
      case s: org.apache.spark.sql.catalyst.expressions.SortArray
          if (s.base.dataType match {
            case ArrayType(_: ArrayType | _: StructType, _) => true
            case _ => false
          }) =>
        val asc = s.ascendingOrder.eval(null).asInstanceOf[Boolean]
        graft.functions.DuckNestedSort(s.base, asc = asc, nullsFirst = asc)
      // greatest/least over nested: a LOUD binder error in DuckDB
      // (measured) — Spark would silently answer with its own ordering
      case g: org.apache.spark.sql.catalyst.expressions.Greatest
          if g.children.exists(containerCmp) =>
        throw new IllegalArgumentException(
          "No function matches the given name and argument types " +
            s"'greatest(${g.children.map(_.dataType.sql).mkString(", ")})'")
      case g: org.apache.spark.sql.catalyst.expressions.Least
          if g.children.exists(containerCmp) =>
        throw new IllegalArgumentException(
          "No function matches the given name and argument types " +
            s"'least(${g.children.map(_.dataType.sql).mkString(", ")})'")
    }
    if (fixed fastEquals analyzed0) df
    else org.apache.spark.sql.graftshim.DatasetBridge.ofRows(spark, fixed)
  }

  /** The text rewrites every lake SELECT rides before parsing: bare-name
    * time travel (`t AT (VERSION => n)`, `t VERSION AS OF n` and their
    * timestamp twins; README.md:162-165) to a snapshot-pinned temp view,
    * `information_schema.tables|columns` and `duckdb_tables|columns()`
    * (ducklakexl.py:238) to relations built here from the current catalog
    * (bare `ducklake_*`: [[registerNamedMeta]]), file reads, and the DuckDB
    * dialect spellings.
    */
  private[graft] def rewriteSelect(q00: String): String = {
    // recursive UNION-distinct CTEs first: they evaluate ITERATIVELY
    // (sub-queries re-enter this pipeline), leaving a registered view +
    // the remaining query text for the passes below
    val q00r = rewriteRecursiveUnion(q00)
    // direct file queries first — their paths sit inside quotes, which
    // every later stage (mapOutsideLiterals, the dialect layer) skips.
    // The dedup cache is PER STATEMENT (a path referenced twice in one
    // query shares a view; across statements the path re-reads, like
    // DuckDB — a longer-lived cache would freeze the first file listing)
    val stmtCache = scala.collection.mutable.Map[String, String]()
    val q0 = StatementRouter.rewriteSessionReadouts(
      StatementRouter.rewriteGlob(
        StatementRouter.rewriteFileReads(q00r) { (fmt, paths, opts) =>
          stmtCache.getOrElseUpdate(
            s"$fmt|${paths.mkString("|")}|${opts.toSeq.sorted.mkString(",")}",
            registerFileRead(fmt, paths, opts))
        }) { pattern =>
          stmtCache.getOrElseUpdate(s"glob|$pattern", registerGlob(pattern))
        },
      s"$LibraryVersion $SourceId", currentSetting)
    // getvariable('x') -> the literal captured at SET VARIABLE time
    val q0v = StatementRouter.rewriteGetVariable(q0)(
      n => sessionVariables.get(n.toLowerCase))
    // timestamp travel first: the ts literal sits INSIDE single quotes —
    // here the quoted text is part of the travel syntax, not a user
    // literal, so these two run on the whole string. A QUALIFIED name
    // normalizes to Spark's native `TIMESTAMP AS OF` (resolved by the DSv2
    // catalog); a bare name pins a snapshot temp view.
    def travelTs(name: String, ts: String): String =
      if (name.contains('.')) s"$name TIMESTAMP AS OF '$ts'"
      else {
        val id = snapshotIdAt(ts)
        statementView(s"${name}__v$id", tableAt(name, id))
      }
    var q = TimestampAtRe.replaceAllIn(q0v,
      m => java.util.regex.Matcher.quoteReplacement(travelTs(m.group(1), m.group(2))))
    q = TimestampAsOfRe.replaceAllIn(q,
      m => java.util.regex.Matcher.quoteReplacement(travelTs(m.group(1), m.group(2))))
    q = StatementRouter.mapOutsideLiterals(q) { seg =>
      var s = seg
      def travel(name: String, ver: String): String =
        if (name.contains('.')) s"$name VERSION AS OF $ver"
        else {
          // meta-catalog time travel (r16): `ducklake_table AT
          // (VERSION => n)` answers catalog rows as of n — unless a
          // user table shadows the metadata name
          val df =
            if (state.tableByName(name).isEmpty)
              metaTableDf(name, Some(ver.toLong)).getOrElse(tableAt(name, ver.toLong))
            else tableAt(name, ver.toLong)
          statementView(s"${name}__v$ver", df)
        }
      s = VersionAtRe.replaceAllIn(s, m => travel(m.group(1), m.group(2)))
      s = VersionAsOfRe.replaceAllIn(s, m => travel(m.group(1), m.group(2)))
      // `FROM snapshots()` — the reference's snapshot-history table function
      s = SnapshotsRe.replaceAllIn(s, _ => statementView("__snapshots", snapshots()))
      s = InfoSchemaRe.replaceAllIn(s,
        m => registerMetaView("__info_" + m.group(1).toLowerCase))
      // DuckDB's own metadata table functions — the habitual spellings a
      // DuckDB user types before reaching for information_schema
      s = DuckTablesRe.replaceAllIn(s, _ => registerMetaView("__duckdb_tables"))
      s = DuckColumnsRe.replaceAllIn(s, _ => registerMetaView("__duckdb_columns"))
      s
    }
    // COLUMNS('re') / COLUMNS(*) star expansion needs the catalog schema,
    // so it runs here rather than in the schema-free dialect layer
    q = StatementRouter.expandColumns(q, name =>
      resolveTable(name).map(t => state.columnsOf(t.tableId).map(_.columnName).toSeq))
    // DuckDB-only spellings (ASOF JOIN, * EXCLUDE/REPLACE, DISTINCT ON,
    // QUALIFY, list_* lambdas) — the reference's dialect contract
    // literal escape translation BEFORE the dialect layer: DuckDB
    // literals are escape-free, Spark's parser processes backslash
    // escapes — user backslashes double here; the dialect rewrites below
    // READ doubled (= Spark-spelled) user literals and EMIT Spark-spelled
    // literals of their own (string_split's \\Q quoting etc.), which a
    // later doubling pass would corrupt (r10 regression, q_lake_dialect3)
    q = StatementRouter.sparkifyLiterals(q)
    q = StatementRouter.rewriteDialect(q)
    // the two set-shape clauses Spark's parser lacks outright: operands
    // evaluate individually and re-enter the string pipeline as temp views
    q = rewriteByNameUnion(q)
    rewritePositionalJoin(q)
  }


  /** backend for [[StatementRouter.rewriteFileReads]]: one temp view per
    * distinct (format, paths, options) source WITHIN a statement (the
    * per-statement cache in rewriteSelect dedups; caching across
    * statements would freeze the file listing captured at first read,
    * while DuckDB re-reads the path every query). CSV mirrors DuckDB's
    * sniffer defaults (header + type inference); the option names DuckDB
    * users pass map onto the Spark reader, the rest are engine-tuning
    * knobs with no Spark analogue and tolerate silently. The view wraps
    * `spark.read.<fmt>` directly, so column pruning / filter pushdown /
    * distributed scans behave exactly as for catalog tables — at 100 TB
    * a path-queried parquet directory scans identically to a lake table.
    */
  /** backend for [[StatementRouter.rewriteGlob]]: list the files matching
    * the pattern (Hadoop glob — the same matcher the scan path uses, so
    * hdfs:/s3: URIs work identically) into a one-column temp view named
    * like DuckDB's (`file`), sorted for deterministic output. Pure
    * metadata plane — no data is read.
    */
  private def registerGlob(pattern: String): String = {
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // local files render as bare paths (DuckDB's glob() output shape);
    // remote URIs keep scheme+authority — s3a://bucket/x.parquet must
    // round-trip back into a read, stripping the bucket would break it
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath).map { fp =>
        val u = fp.toUri
        if (u.getScheme == null || u.getScheme == "file") u.getPath
        else fp.toString
      }.sorted
    statementView(s"__glob_${java.lang.Integer.toHexString(pattern.hashCode)}",
      spark.createDataFrame(files.map(Row(_)).asJava,
        StructType(Seq(StructField("file", StringType, nullable = false)))))
  }

  private def registerFileRead(fmt: String, paths: Seq[String],
                               opts: Map[String, String]): String = {
      val df = fmt match {
        case "parquet" => spark.read.parquet(paths: _*)
        case "csv" => readCsvSource(paths, opts)
        case _ => readJsonSource(paths, opts)
      }
      // the name is a STABLE function of (format, paths, options): the
      // same source re-registers under the same name every statement
      // (fresh file listing, DuckDB's re-read semantics) instead of
      // leaking one __file_N per statement into the session catalog;
      // and two lake instances sharing a session map the same source to
      // the same name, so an overwrite is a benign refresh, never a
      // wrong-table read
      val key = s"$fmt|${paths.mkString("|")}|${opts.toSeq.sorted.mkString(",")}"
      statementView("__file_" + java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString, df)
  }

  // ---- read_csv/read_json option depth (r17 reader-option barrage) ----
  // Every behavior below is MEASURED on DuckDB 1.0.0 (fixtures in
  // CsvOptDifferentialSpec/JsonOptDifferentialSpec, provenance
  // tools/diffgen.py gen csvopt/jsonopt).

  private def optBool(v: String) =
    v.trim.equalsIgnoreCase("true") || v.trim == "1"
  /** DuckDB interprets backslash escapes in delim ('\t' is a tab) */
  private def optUnesc(s: String) = s.replace("\\t", "\t").replace("\\n", "\n")
  private def optUnq(s0: String): String = {
    val s = s0.trim
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("''", "'")
    else s
  }
  /** `['NA', 'none']` list-option value (arrives raw) or a bare scalar */
  private def optStrList(v: String): Seq[String] = {
    val t = v.trim
    if (t.startsWith("[") && t.endsWith("]"))
      StatementRouter.splitTopCommas(t.substring(1, t.length - 1))
        .map(_.trim).filter(_.nonEmpty).map(optUnq)
    else Seq(optUnq(t))
  }
  /** `{'a': 'INTEGER', ...}` struct-literal option value (columns/types) */
  private def optTypedPairs(v: String): Seq[(String, String)] = {
    val t = v.trim
    require(t.startsWith("{") && t.endsWith("}"),
      s"cannot parse a column-spec option value: $v")
    StatementRouter.splitTopCommas(t.substring(1, t.length - 1)).map { p =>
      val i = p.indexOf(':')
      require(i > 0, s"cannot parse column spec entry: $p")
      (optUnq(p.substring(0, i)), optUnq(p.substring(i + 1)))
    }
  }
  /** first non-whitespace byte of a file — a driver-side metadata probe
    * (≤64 bytes read) deciding JSON array-vs-NDJSON framing, never data */
  private def firstNonWsChar(path: String): Option[Char] = scala.util.Try {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64)
      val n = in.read(buf)
      (0 until math.max(n, 0)).map(buf(_).toChar).find(!_.isWhitespace)
    } finally in.close()
  }.toOption.flatten

  /** DuckDB-sniffer-order type inference over already-null-cleaned STRING
    * columns: BOOLEAN → BIGINT → DOUBLE → DATE → TIMESTAMP → VARCHAR
    * (TIME is a documented divergence: Spark has no TIME type, the
    * column stays VARCHAR — CAST-to-VARCHAR rendering is identical).
    * ONE distributed aggregate pass over the candidate columns — the
    * same single extra pass DuckDB's own sniffer pays; at 100 TB this
    * path only runs for the option shapes Spark's reader cannot express
    * natively (nullstr lists, force_not_null, types overrides). */
  private def inferStringColumnTypes(
      df: DataFrame, candidates: Seq[String]): Map[String, DataType] =
    inferStringColumnTypes2(df, candidates).map { case (k, (t, _)) => k -> t }

  /** the Boolean marks a ZONED timestamp string ('…+02'/'…Z'): DuckDB
    * converts it to the UTC wall time inside plain TIMESTAMP (measured
    * '2024-02-29 01:02:03+02' reads back '2024-02-28 23:02:03'), so the
    * cast must go through the instant type first (session is UTC) */
  private def inferStringColumnTypes2(
      df: DataFrame, candidates: Seq[String]): Map[String, (DataType, Boolean)] = {
    if (candidates.isEmpty || df.isEmpty) return Map.empty
    val dateRe = "^\\d{4}-\\d{2}-\\d{2}$"
    val tsRe = "^\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?$"
    val tszRe = "^\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}(:?\\d{2})?)$"
    def cnt(c: Column) = count(when(c, 1))
    val aggs = candidates.zipWithIndex.flatMap { case (name, i) =>
      val c = df(name)
      Seq(
        count(c).as(s"n$i"),
        // DuckDB's sniffer boolean accepts true/false/t/f (measured:
        // yes/no and 1/0 do NOT sniff BOOLEAN)
        cnt(lower(c).isin("true", "false", "t", "f")).as(s"b$i"),
        cnt(expr(s"try_cast(trim(`$name`) AS BIGINT)").isNotNull).as(s"i$i"),
        cnt(expr(s"try_cast(trim(`$name`) AS DOUBLE)").isNotNull).as(s"d$i"),
        cnt(c.rlike(dateRe) && expr(s"try_cast(`$name` AS DATE)").isNotNull)
          .as(s"dt$i"),
        cnt(c.rlike(tsRe) &&
            expr(s"try_cast(`$name` AS TIMESTAMP_NTZ)").isNotNull).as(s"ts$i"),
        cnt(c.rlike(tszRe) &&
            expr(s"try_cast(`$name` AS TIMESTAMP)").isNotNull).as(s"tz$i"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    candidates.zipWithIndex.map { case (name, i) =>
      val base = i * 7
      val n = row.getLong(base)
      val t: (DataType, Boolean) =
        if (n == 0L) (StringType, false) // all-NULL sniffs VARCHAR (measured)
        else if (row.getLong(base + 1) == n) (BooleanType, false)
        else if (row.getLong(base + 2) == n) (LongType, false)
        else if (row.getLong(base + 3) == n) (DoubleType, false)
        else if (row.getLong(base + 4) == n) (DateType, false)
        else if (row.getLong(base + 5) == n) (TimestampNTZType, false)
        else if (row.getLong(base + 6) == n) (TimestampNTZType, true)
        else (StringType, false)
      name -> t
    }.toMap
  }

  /** read_csv with the full measured option surface. Spark's reader
    * handles header/delim/quote/escape/single-nullstr natively; the
    * shapes it cannot express (nullstr LISTS, force_not_null's
    * match-to-'' substitution, types/names overrides, skip) read
    * all-VARCHAR first, null-clean with when(), then type via
    * [[inferStringColumnTypes]] — null substitution happens BEFORE
    * inference, exactly DuckDB's order (measured: a BIGINT column with
    * 'NA' holes still sniffs BIGINT under nullstr='NA'). */
  private def readCsvSource(paths: Seq[String], opts: Map[String, String]): DataFrame = {
    val skip = opts.get("skip").map(v => optUnq(v).trim.toInt).getOrElse(0)
    require(skip == 0 || paths.length == 1,
      "read_csv skip= over multiple files is not supported (DuckDB skips per file; split the read)")
    val sepStr = opts.get("delim").orElse(opts.get("sep")).map(optUnesc).getOrElse(",")
    val nullstrs = opts.get("nullstr").map(optStrList).getOrElse(Seq(""))
    val forceNotNull =
      opts.get("force_not_null").map(optStrList).getOrElse(Nil).toSet
    val explicitCols = opts.get("columns").map(optTypedPairs)
    val namesOpt = opts.get("names").orElse(opts.get("column_names"))
      .map(optStrList).getOrElse(Nil)
    val typesOpt = opts.get("types").orElse(opts.get("dtypes"))
      .orElse(opts.get("column_types"))
    val allVarchar = opts.get("all_varchar").exists(optBool)
    // DuckDB SNIFFS the header; an explicit header= wins, else a cheap
    // probe of the first post-skip line decides: any numeric field in it
    // means data, not names (the common headerless shape; an all-string
    // headerless file still needs header=false, as the probe cannot see
    // type contrast from one row)
    // the probe line must be POST-skip: a file with skip or fewer lines
    // has no data line at all — don't probe the last preamble line the
    // skip was supposed to discard (r18, ADVICE r17)
    val postSkipProbe: Option[String] =
      if (skip > 0) scala.util.Try {
        val first = spark.read.textFile(paths.head).take(skip + 1)
        if (first.length == skip + 1) Some(first.last) else None
      }.toOption.flatten
      else None
    if (skip > 0 && postSkipProbe.isEmpty && explicitCols.isEmpty &&
        namesOpt.isEmpty && typesOpt.isEmpty)
      // measured: read_csv(skip >= line count) answers an EMPTY result
      // with the headerless one-column shape (column0 VARCHAR)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("column0", StringType, nullable = true))))
    val header = opts.get("header").map(optBool).getOrElse {
      val probe =
        if (skip > 0) postSkipProbe
        else scala.util.Try(spark.read.textFile(paths.head).head()).toOption
      probe.forall { line =>
        !line.split(java.util.regex.Pattern.quote(sepStr), -1).exists(f =>
          scala.util.Try(java.lang.Double.parseDouble(f.trim)).isSuccess)
      }
    }
    def read(schema: Option[StructType], inferSchema: Boolean,
             nullValue: Option[String]): DataFrame = {
      var r = spark.read
        .option("header", header.toString)
        .option("inferSchema", inferSchema.toString)
        // DuckDB's CSV reader always supports quoted fields spanning
        // lines and never trims padding (r15 csvio barrage). Scale
        // note: multiLine shifts split parallelism from line-chunks
        // to whole files — across a many-file 100 TB ingest the
        // per-file parallelism is what matters, and embedded-newline
        // correctness is not negotiable. (The skip= path parses a
        // dataset of LINES, so embedded newlines cannot span them —
        // DuckDB's skip is line-wise too.)
        .option("multiLine", (skip == 0).toString)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
      schema.foreach(s => r = r.schema(s))
      opts.get("delim").orElse(opts.get("sep"))
        .foreach(d => r = r.option("sep", optUnesc(d)))
      opts.get("quote").foreach(v => r = r.option("quote", v))
      opts.get("escape").foreach(v => r = r.option("escape", v))
      nullValue.foreach(v => r = r.option("nullValue", v))
      opts.get("dateformat").foreach(v => r = r.option("dateFormat", v))
      opts.get("timestampformat").foreach(v => r = r.option("timestampFormat", v))
      // ignore_errors drops malformed rows (measured: wrong column
      // counts vanish, the well-formed remainder survives)
      if (opts.get("ignore_errors").exists(optBool))
        r = r.option("mode", "DROPMALFORMED")
      val raw =
        if (skip > 0) {
          val lines = spark.read.textFile(paths.head).rdd.zipWithIndex()
            .filter(_._2 >= skip).map(_._1)
          r.csv(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
        } else r.csv(paths: _*)
      // DuckDB names headerless columns column0, column1, …; Spark
      // names them _c0, _c1 (r15 csvio barrage)
      if (!header && raw.columns.forall(_.matches("_c\\d+")))
        raw.toDF(raw.columns.map(c => "column" + c.drop(2)).toSeq: _*)
      else raw
    }
    // fast paths: a fully-declared schema or an all-VARCHAR read with a
    // single nullstr map 1:1 onto Spark's reader. EVERYTHING that needs
    // type sniffing goes through the custom path below — DuckDB's
    // sniffer order (BOOLEAN incl. t/f -> BIGINT(trimmed) -> DOUBLE ->
    // DATE -> TIMESTAMP incl. 'T'/zoned forms) diverges from Spark's
    // inference (measured r17: ' 7' infers DOUBLE in Spark, BIGINT in
    // DuckDB), so Spark's inferSchema is never used. Cost parity:
    // Spark's own inference is a full extra pass too — this one is a
    // single distributed aggregate.
    val plainDeclared = explicitCols.isDefined && nullstrs.lengthIs == 1 &&
      forceNotNull.isEmpty && typesOpt.isEmpty
    val plainAllVarchar = allVarchar && explicitCols.isEmpty &&
      nullstrs.lengthIs == 1 && forceNotNull.isEmpty && typesOpt.isEmpty
    var out: DataFrame =
      if (plainDeclared) {
        // full declared schema: parse directly into it (loud on
        // conversion failure, like DuckDB without ignore_errors)
        val schema = StructType(explicitCols.get.map { case (n, t) =>
          StructField(n, CatalogSchema.parseType(t), nullable = true) })
        read(Some(schema), inferSchema = false, nullValue = Some(nullstrs.head))
      } else if (plainAllVarchar) {
        read(None, inferSchema = false, nullValue = Some(nullstrs.head))
      } else {
        // all-VARCHAR read under a SENTINEL nullValue (so Spark's
        // default ''->NULL stays OUT of the way), then when()-based
        // null-clean: nullstr matches -> NULL, except force_not_null
        // columns where the match becomes '' (measured — including the
        // default nullstr '': force_not_null turns empty fields into
        // empty STRINGS, which is DuckDB's documented purpose)
        val strSchema = explicitCols.map(cols =>
          StructType(cols.map { case (n, _) =>
            StructField(n, StringType, nullable = true) }))
        val raw = read(strSchema, inferSchema = false, Some("\u0001"))
        val cleaned = raw.select(raw.columns.map { c =>
          val base = raw(c)
          val hit = base.isin(nullstrs.map(_.asInstanceOf[Any]): _*)
          (if (forceNotNull.contains(c))
            // univocity reads an unquoted-empty field as NULL no matter
            // the nullValue sentinel — under the default '' nullstr a
            // forced column turns those into '' too (measured f1)
            when(hit || (base.isNull && lit(nullstrs.contains(""))), lit(""))
              .otherwise(base)
           else when(hit, lit(null)).otherwise(base)).as(c)
        }.toSeq: _*)
        // target types: declared columns= > types= overrides > sniffed.
        // Sniffing runs on the NULL-cleaned view for every remaining
        // column (force_not_null columns too — DuckDB sniffs before the
        // force substitution, then errors loudly if '' cannot convert;
        // the ANSI cast below reproduces that loud failure)
        val declared: Map[String, DataType] =
          explicitCols.map(_.map { case (n, t) =>
            n -> CatalogSchema.parseType(t) }.toMap).getOrElse(Map.empty)
        val typed: Map[String, DataType] = typesOpt match {
          case Some(tv) if tv.trim.startsWith("{") =>
            optTypedPairs(tv).map { case (n, t) =>
              n -> CatalogSchema.parseType(t) }.toMap
          case Some(tv) =>
            optStrList(tv).zip(cleaned.columns).map { case (t, n) =>
              n -> CatalogSchema.parseType(t) }.toMap
          case None => Map.empty
        }
        val pinned = declared ++ typed
        val inferCands =
          if (allVarchar) Nil
          else cleaned.columns.filterNot(pinned.contains).toSeq
        val nulledRaw = raw.select(raw.columns.map { c =>
          when(raw(c).isin(nullstrs.map(_.asInstanceOf[Any]): _*), lit(null))
            .otherwise(raw(c)).as(c) }.toSeq: _*)
        val sniffed = inferStringColumnTypes2(nulledRaw, inferCands)
        val targets: Seq[(String, Option[(DataType, Boolean)])] =
          cleaned.columns.toSeq.map { c =>
            c -> (pinned.get(c).map((_, false)).orElse(sniffed.get(c)) match {
              case Some((t, z)) if t != StringType => Some((t, z))
              case _ => None
            })
          }
        // ignore_errors on this path must also drop rows whose CELLS
        // fail conversion to a pinned type (DROPMALFORMED on the
        // all-VARCHAR read only catches wrong column counts) — DuckDB
        // drops the whole row, it never throws (r18, ADVICE r17).
        // Sniffed types convert by construction; only pinned ones can
        // fail, but guarding every typed column is cheap and robust.
        val guarded =
          if (!opts.get("ignore_errors").exists(optBool)) cleaned
          else targets.collect { case (c, Some((t, zoned))) =>
            val tc =
              if (zoned) expr(s"try_cast(`$c` AS TIMESTAMP)")
              else expr(s"try_cast(`$c` AS ${t.sql})")
            cleaned(c).isNull || tc.isNotNull
          }.reduceOption(_ && _).map(cleaned.where).getOrElse(cleaned)
        guarded.select(targets.map {
          case (c, Some((t, true))) =>
            // zoned timestamp strings land as the UTC wall time in
            // plain TIMESTAMP (measured) — cast through the instant
            // type first (session is UTC)
            guarded(c).cast(TimestampType).cast(t).as(c)
          case (c, Some((t, _))) => guarded(c).cast(t).as(c)
          case (c, None)         => guarded(c)
        }: _*)
      }
    // names=[...] renames the first k columns, the rest keep their
    // sniffed names (measured)
    if (namesOpt.nonEmpty) {
      val renamed = out.columns.zipWithIndex.map { case (c, i) =>
        if (i < namesOpt.length) namesOpt(i) else c }
      out = out.toDF(renamed.toSeq: _*)
    }
    out
  }

  /** read_json with the measured option surface: array-vs-NDJSON framing
    * (auto-probed from the first non-whitespace byte — '[' means one
    * top-level array that unpacks to rows), records=false packing all
    * columns into one `json` STRUCT column, scalar roots landing in a
    * `json` column of the sniffed type, columns={...} projecting ONLY
    * the listed columns with casts, ignore_errors keeping malformed rows
    * as all-NULL (PERMISSIVE) vs the loud FAILFAST default, and DuckDB's
    * date/timestamp STRING promotion at the top level. */
  private def readJsonSource(paths: Seq[String], opts: Map[String, String]): DataFrame = {
    val ignoreErrors = opts.get("ignore_errors").exists(optBool)
    val fmtOpt = opts.get("format").map(v => optUnq(v).toLowerCase)
    lazy val firstChar = firstNonWsChar(paths.head)
    val isArray = fmtOpt match {
      case Some("array") => true
      case Some("newline_delimited") | Some("nd") =>
        // DuckDB answers ONE row whose `json` column is the whole LIST;
        // Spark's NDJSON reader would silently EXPLODE a top-level array
        // into rows — refuse loudly rather than diverge
        require(!firstChar.contains('['),
          "graft: read_json format='newline_delimited' over a top-level " +
          "JSON array answers a single LIST value in DuckDB — unsupported " +
          "(use format='array' to unpack records)")
        false
      case Some("auto") | None => firstChar.contains('[')
      case Some(other) =>
        throw new IllegalArgumentException(s"read_json format='$other' is not supported")
    }
    val scalarRoot = !isArray && firstChar.exists(c => c != '{')
    val base: DataFrame =
      if (scalarRoot) {
        // non-object roots: one value per line in a column named `json`
        // (measured); numeric/boolean lines cast directly, string lines
        // go through get_json_object('$') so quoting/escapes resolve
        val lines = spark.read.textFile(paths: _*)
          .toDF("json").where(length(trim(col("json"))) > 0)
          .select(trim(col("json")).as("json"))
        inferStringColumnTypes(lines, Seq("json"))
          .getOrElse("json", StringType) match {
          case StringType =>
            lines.select(get_json_object(col("json"), "$").as("json"))
          case t => lines.select(col("json").cast(t).as("json"))
        }
      } else {
        val r = spark.read
          .option("multiLine", isArray.toString)
          // DuckDB keeps a malformed line as an all-NULL row under
          // ignore_errors (measured) — exactly PERMISSIVE minus the
          // corrupt-record column; without it the read fails loudly
          .option("mode", if (ignoreErrors) "PERMISSIVE" else "FAILFAST")
          .json(paths: _*)
        val raw = if (r.columns.contains("_corrupt_record"))
          r.drop("_corrupt_record") else r
        opts.get("columns").map(optTypedPairs) match {
          case Some(cols) =>
            // columns={...} projects ONLY the listed columns (measured:
            // columns={'a':'VARCHAR'} over {a,b} docs answers one column)
            raw.select(cols.map { case (n, t) =>
              val dt = CatalogSchema.parseType(t)
              (if (raw.columns.contains(n)) raw(n).cast(dt)
               else lit(null).cast(dt)).as(n)
            }.toSeq: _*)
          case None => promoteJsonDateStrings(raw)
        }
      }
    if (opts.get("records").map(v => optUnq(v).toLowerCase).contains("false"))
      // records=false packs the row into one `json` STRUCT column;
      // the DuckDB-style container rendering handles CAST AS VARCHAR
      base.select(struct(base.columns.map(base(_)).toSeq: _*).as("json"))
    else base
  }

  /** DuckDB's read_json types top-level strings shaped like dates /
    * space-separated timestamps / Z-offset ISO timestamps as DATE /
    * TIMESTAMP (measured; bare 'T'-separated strings WITHOUT a zone stay
    * VARCHAR, as do numeric-looking and boolean-looking strings). One
    * aggregate pass over the string columns, skipped when there are
    * none. */
  private def promoteJsonDateStrings(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields
      .filter(_.dataType == StringType).map(_.name).toSeq
    if (strCols.isEmpty) return df
    val dateRe = "^\\d{4}-\\d{2}-\\d{2}$"
    val tsRe = "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}(\\.\\d+)?$"
    val tszRe = "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:?\\d{2})$"
    def cnt(c: Column) = count(when(c, 1))
    val aggs = strCols.zipWithIndex.flatMap { case (name, i) =>
      val c = df(name)
      Seq(count(c).as(s"n$i"),
        cnt(c.rlike(dateRe) && expr(s"try_cast(`$name` AS DATE)").isNotNull)
          .as(s"d$i"),
        cnt(c.rlike(tsRe) &&
          expr(s"try_cast(`$name` AS TIMESTAMP_NTZ)").isNotNull).as(s"t$i"),
        cnt(c.rlike(tszRe) &&
          expr(s"try_cast(`$name` AS TIMESTAMP)").isNotNull).as(s"z$i"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val promote: Map[String, Column] = strCols.zipWithIndex.flatMap {
      case (name, i) =>
        val n = row.getLong(i * 4)
        if (n == 0L) None
        else if (row.getLong(i * 4 + 1) == n) Some(name -> df(name).cast(DateType))
        else if (row.getLong(i * 4 + 2) == n)
          Some(name -> df(name).cast(TimestampNTZType))
        else if (row.getLong(i * 4 + 3) == n)
          // Z/offset form lands in DuckDB's plain TIMESTAMP as the UTC
          // wall time — parse as an instant (session is UTC) then strip
          Some(name -> df(name).cast(TimestampType).cast(TimestampNTZType))
        else None
    }.toMap
    if (promote.isEmpty) df
    else df.select(df.columns.map { c =>
      promote.get(c).map(_.as(c)).getOrElse(df(c)) }.toSeq: _*)
  }

  /** DuckDB `UNION [ALL|DISTINCT] BY NAME` — Spark SQL has no BY NAME set
    * operation, so each operand runs on its own and the results combine
    * with Dataset.unionByName(allowMissingColumns = true): columns match
    * by NAME, a column missing on one side null-pads, output column order
    * is first-appearance — DuckDB's semantics. A non-ALL step dedups that
    * step's result (left-associative, like DuckDB). A trailing ORDER BY /
    * LIMIT / OFFSET scopes to the whole union, so it is peeled off the
    * last operand and re-applied over the assembled view. At scale this
    * is exactly a Spark union: no extra shuffle beyond what the operands
    * and any dedup already do.
    */
  private def rewriteByNameUnion(q: String): String = {
    val (head, rest) = StatementRouter.splitByNameUnions(q)
    if (rest.isEmpty) return q
    val (lastBody, tail) = StatementRouter.splitQueryTail(rest.last._2)
    val parts = (head +: rest.init.map(_._2) :+ lastBody).map(_.trim)
    var df = spark.sql(s"SELECT * FROM ( ${parts.head} )")
    parts.tail.zip(rest.map(_._1)).foreach { case (p, isAll) =>
      df = df.unionByName(spark.sql(s"SELECT * FROM ( $p )"),
        allowMissingColumns = true)
      if (!isAll) df = df.distinct()
    }
    // JVM-global sequence: per-instance counters collide when two lake
    // instances share one SparkSession (session-scoped temp views) —
    // the same hazard fixed for __file_ names
    val vn = statementView(s"__byname_${DuckLakeXLSpark.fileViewSeq.incrementAndGet()}", df)
    s"SELECT * FROM $vn$tail"
  }

  /** DuckDB `a POSITIONAL JOIN b` — pair rows by position, padding the
    * shorter side with NULLs. Spark has no positional join; rows get a
    * position via RDD zipWithIndex (one extra count job, NO data shuffle
    * to index) and pair with a full-outer equi-join on the position — the
    * join's hash shuffle is inherent to positional semantics on a
    * distributed engine. Row order is the operand's scan order: files in
    * catalog id order, parquet order within a file, and an operand
    * subquery's ORDER BY is respected — same contract DuckDB gives.
    * Operands must be plain sources (table/alias or parenthesized
    * subquery); anything fancier belongs in a subquery. Chained
    * positional joins re-scan left-to-right.
    */
  private def rewritePositionalJoin(q0: String): String = {
    var q = q0
    var go = true
    while (go) {
      StatementRouter.findPositionalJoin(q) match {
        case None => go = false
        case Some((lStart, kwStart, rStart)) =>
          val rEnd = StatementRouter.joinOperandEnd(q, rStart)
          val lSrc = q.substring(lStart, kwStart).trim
          val rSrc = q.substring(rStart, rEnd).trim
          require(lSrc.nonEmpty && rSrc.nonEmpty,
            s"cannot parse POSITIONAL JOIN operands in: $q")
          val joined = zipPositional(
            spark.sql(s"SELECT * FROM $lSrc"), spark.sql(s"SELECT * FROM $rSrc"))
          val vn = statementView(
            s"__posjoin_${DuckLakeXLSpark.fileViewSeq.incrementAndGet()}", joined)
          q = q.substring(0, lStart) + " " + vn + " " + q.substring(rEnd)
      }
    }
    q
  }

  private def zipPositional(l: DataFrame, r: DataFrame): DataFrame = {
    // same-named sides are legal in DuckDB and the output KEEPS the
    // duplicate names (measured r13: `l(v) POSITIONAL JOIN r(v)` yields
    // columns `v, v`) — join under disambiguated right-side names, then
    // restore the originals; later unqualified references to a
    // duplicated name fail loud at analysis, same as DuckDB's binder
    val lNames = l.columns.toSeq
    val rNames = r.columns.toSeq
    val taken = lNames.toSet
    val rSafe = rNames.map(n => if (taken(n)) s"__pos_rdup_$n" else n)
    val r2 = r.toDF(rSafe: _*)
    def withPos(df: DataFrame, cn: String): DataFrame = {
      val sch = StructType(df.schema.fields :+ StructField(cn, LongType, nullable = false))
      spark.createDataFrame(
        df.rdd.zipWithIndex.map { case (row, i) => Row.fromSeq(row.toSeq :+ i) }, sch)
    }
    val li = withPos(l, "__pos_l")
    val ri = withPos(r2, "__pos_r")
    li.join(ri, li("__pos_l") === ri("__pos_r"), "full_outer")
      .sort(coalesce(col("__pos_l"), col("__pos_r")))
      .drop("__pos_l", "__pos_r")
      .toDF(lNames ++ rNames: _*)
  }

  /** latest snapshot whose snapshot_time <= ts — DuckLake's
    * `AT (TIMESTAMP => …)` resolution. Accepts 'yyyy-MM-dd[ HH:mm:ss]'
    * (a bare date means midnight); snapshot times are recorded in the
    * same second-resolution format, so the compare is lexicographic.
    */
  def snapshotIdAt(ts: String): Long = {
    // normalize BOTH sides: our writer records 'yyyy-MM-dd HH:mm:ss', but a
    // foreign workbook may carry ISO 'T' separators
    def norm(x: String): String = {
      val t0 = x.trim.replace('T', ' ')
      if (t0.length == 10) t0 + " 00:00:00" else t0
    }
    val target = norm(ts)
    val ok = state.snapshots.filter(s => norm(s.snapshotTime) <= target)
    require(ok.nonEmpty, s"no snapshot at or before timestamp: $ts")
    ok.map(_.snapshotId).max
  }

  /** time travel by wall clock: the table as of the latest snapshot taken
    * at or before `ts`
    */
  def tableAtTime(name: String, ts: String): DataFrame =
    tableAt(name, snapshotIdAt(ts))

  /** current-snapshot scan of a lake table: union of live parquet files */
  def table(name: String): DataFrame = tableAt(name, state.currentSnapshot)

  /** one physical-read epoch: columnId -> (physical field name, physical
    * type) for the fields IN the files, plus columnId -> path key for
    * hive-partition mapped columns (absent from the files; their value is
    * the `key=value` segment of each file's path)
    */
  private[graft] case class PhysEpoch(cols: Map[Long, (String, String)],
                                      hive: Map[Long, String])

  /** the files of a table grouped by their physical column-name epoch: a
    * file's parquet fields carry the names the catalog had AT ITS WRITE
    * SNAPSHOT. `RENAME COLUMN` only swaps the catalog name (same
    * columnId), so each group maps columnId -> physical name; a table
    * never renamed yields exactly ONE group (the common fast path).
    * Files carrying a `mapping_id` (foreign-registered parquet,
    * `ducklake_column_mapping`/`ducklake_name_mapping`) take their
    * physical names from the mapping instead — the mapping records no
    * types, so the catalog's current type is used as the read schema
    * (DuckDB's map_by_name semantics: resolve by name, coerce to the
    * table type). Groups are ordered by first file id for deterministic
    * unions.
    */
  private def physGroups(t: TableRow, files: Seq[DataFileRow], snapshot: Long)
      : Seq[(PhysEpoch, Seq[DataFileRow])] = {
    val cur = state.columnsOf(t.tableId, snapshot)
    files.groupBy { f =>
      f.mappingId match {
        case Some(mid) =>
          val nm = state.nameMappingOf(mid)
          val (hiveEntries, fileEntries) = cur.flatMap(c =>
            nm.get(c.columnId).map(c -> _)).partition(_._2.hivePartition)
          PhysEpoch(
            fileEntries.map { case (c, m) =>
              c.columnId -> ((m.sourceName, c.columnType)) }.toMap,
            hiveEntries.map { case (c, m) => c.columnId -> m.sourceName }.toMap)
        case None =>
          val physAt = state.columnsOf(t.tableId, f.beginSnapshot)
            .map(c => c.columnId -> ((c.columnName, c.columnType))).toMap
          PhysEpoch(
            cur.flatMap(c => physAt.get(c.columnId).map(c.columnId -> _)).toMap,
            Map.empty)
      }
    }.toSeq.sortBy(_._2.map(_.dataFileId).min)
  }

  /** the current-schema projection over one physical epoch's raw scan:
    * rename/cast mapped fields, surface hive-partition mapped columns
    * from the file path, and fill columns a file epoch doesn't carry —
    * with the column's `initial_default` (DuckLake's ADD COLUMN …
    * DEFAULT semantics: rows that PREDATE the column read the default,
    * while post-ADD files carry the physical column so an explicitly
    * inserted NULL stays NULL) or plain NULL without one
    */
  private def epochProjection(df: DataFrame, phys: PhysEpoch,
      curCols: Vector[ColumnRow],
      snapshot: Long = state.currentSnapshot): DataFrame =
    df.select(curCols.map { c =>
      val dt = CatalogSchema.parseType(c.columnType)
      phys.cols.get(c.columnId) match {
        case Some((pn, _)) => colq(df, pn).cast(dt).as(c.columnName)
        case None => phys.hive.get(c.columnId) match {
          case Some(key) =>
            // hive layout: the value rides in a `key=value` path segment
            regexp_extract(input_file_name(),
              java.util.regex.Pattern.quote(key) + "=([^/]+)", 1)
              .cast(dt).as(c.columnName)
          case None => initialDefaultFill(c, dt, snapshot)
        }
      }
    }: _*)

  /** the fill for a column a file epoch does not carry: its
    * `initial_default` (or NULL), rendered through the INTERVAL text
    * carrier when the column is logically INTERVAL — the same coercion
    * every write of the column gets */
  private def initialDefaultFill(c: ColumnRow, dt: DataType, snapshot: Long): Column = {
    val d0 = state.columnTagOf(c.tableId, c.columnId, "initial_default", snapshot)
      .map(dexpr).getOrElse(lit(null))
    val d = if (c.columnType.trim.equalsIgnoreCase("INTERVAL"))
      org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.functions.IntervalText(
          org.apache.spark.sql.graftshim.ColumnBridge.expression(d0)))
    else d0
    d.cast(dt).as(c.columnName)
  }

  /** time travel: the table as of a snapshot id. The scan goes through a
    * [[DuckLakeFileIndex]], so pushed-down predicates prune the file list
    * by `ducklake_file_column_statistics` (and partition values) at plan
    * time — a selective WHERE over a many-file table reads only the
    * stat-surviving files (SURVEY.md §4.2; the scan's scale lever at
    * 100 TB). Files are scanned in physical-name-epoch groups (see
    * [[physGroups]]) and aliased to the current names, so tables read
    * correctly across `RENAME COLUMN`; stats stay columnId-keyed, so
    * pruning survives renames too.
    */
  // ---------------------------------------------------- name resolution
  /** split a possibly schema-qualified table name: bare -> current schema;
    * `s.t` -> schema `s` (falling back to the current schema when `s` is
    * actually the LAKE name — `my_ducklake.t`); `lake.s.t` arrives here
    * already stripped to `s.t` by the router
    */
  private[graft] def splitQual(name: String): (String, String) = name.split('.') match {
    case Array(t) => (curSchema, t)
    case Array(sn, t) if state.schemaByName(sn).isEmpty && sn.equalsIgnoreCase(lakeName) =>
      (curSchema, t)
    case arr => (arr(arr.length - 2), arr.last)
  }

  private def resolveTable(name: String): Option[TableRow] = {
    val (sn, tn) = splitQual(name)
    state.tableByNameIn(sn, tn)
  }

  private def requireTable(name: String): TableRow =
    resolveTable(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name"))

  private def schemaNameOf(t: TableRow): String =
    state.liveSchemas().find(_.schemaId == t.schemaId).map(_.schemaName)
      .getOrElse("main")

  def tableAt(name: String, snapshot: Long): DataFrame = {
    val (sn, tn) = splitQual(name)
    tableIn(sn, tn, snapshot)
  }

  /** schema-scoped [[tableAt]] — the DSv2 catalog's scan entry point */
  private[graft] def tableIn(schemaName: String, name: String, snapshot: Long): DataFrame = {
    require(state.snapshots.exists(_.snapshotId <= snapshot),
      s"snapshot $snapshot has been expired (earliest surviving: " +
        s"${state.snapshots.map(_.snapshotId).minOption.getOrElse(-1L)})")
    val t = state.tableByNameIn(schemaName, name, snapshot)
      .getOrElse(throw new IllegalArgumentException(s"no such table: $schemaName.$name @ $snapshot"))
    val curCols = state.columnsOf(t.tableId, snapshot)
    val schema = state.schemaOf(t.tableId, snapshot)
    val allFiles = state.filesOf(t.tableId, snapshot)
    // foreign positional delete files (a workbook written by real
    // DuckDB-DuckLake): affected files take the merge-on-read branch;
    // everything else keeps the stats-pruning fast path
    val posDels = state.positionalDeletes(t.tableId, snapshot)
    val (dirty, files) = allFiles.partition(f => posDels.contains(f.dataFileId))
    val cleanDF = if (files.isEmpty) None else Some {
      val partVals = state.partitionValuesOf(t.tableId)
      val dfs = physGroups(t, files, snapshot).map { case (phys, gfiles) =>
        val nameById = phys.cols.map { case (cid, (n, _)) => cid -> n.toLowerCase }
        val stats = state.fileColumnStats.filter(_.tableId == t.tableId)
          .groupBy(_.dataFileId).map { case (fid, rows) =>
            fid -> rows.flatMap(r => nameById.get(r.columnId).map(_ -> r)).toMap
          }
        // read each file group under its PHYSICAL schema (name + type at
        // its write snapshot), then alias/cast to the current catalog
        // schema — a same-type cast folds away in Catalyst, so only files
        // older than an ALTER COLUMN TYPE pay the (columnar) upcast
        val physSchema = StructType(curCols.flatMap(c => phys.cols.get(c.columnId).map {
          case (pn, pt) => StructField(pn, CatalogSchema.parseType(pt), c.nullsAllowed) }))
        val index = new DuckLakeFileIndex(gfiles, stats, partVals)
        val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          index, new StructType(), physSchema, None,
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
          Map.empty[String, String])(spark)
        val df = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .baseRelationToDataFrame(relation)
        epochProjection(df, phys, curCols, snapshot)
      }
      dfs.reduce(_.unionByName(_))
    }
    val dirtyDF =
      if (dirty.isEmpty) None
      else Some(readWithDeletes(t, dirty, posDels, snapshot))
    val base = (cleanDF.toSeq ++ dirtyDF.toSeq).reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    // catalog-inlined rows (data inlining) union in as a local relation
    inlineDF(t, snapshot).map(base.unionByName(_)).getOrElse(base)
  }

  /** Merge-on-read over files carrying FOREIGN positional delete parquet
    * (the Iceberg/DuckLake shape): tag each data row with its file path +
    * row ordinal via the parquet `_metadata` columns, anti-join the delete
    * files' (file, pos) pairs. Cost is proportional to the DELETE-AFFECTED
    * files only; DML materializes them away ([[flushForeignDeletes]]).
    */
  private def readWithDeletes(t: TableRow, files: Seq[DataFileRow],
      dels: Map[Long, Vector[DeleteFileRow]], snapshot: Long): DataFrame = {
    val curCols = state.columnsOf(t.tableId, snapshot)
    val dfs = physGroups(t, files, snapshot).map { case (phys, gfiles) =>
      val physSchema = StructType(curCols.flatMap(c => phys.cols.get(c.columnId).map {
        case (pn, pt) => StructField(pn, CatalogSchema.parseType(pt), c.nullsAllowed) }))
      val df = spark.read.schema(physSchema).parquet(gfiles.map(_.path): _*)
      df.select(curCols.map { c =>
        val dt = CatalogSchema.parseType(c.columnType)
        phys.cols.get(c.columnId) match {
          case Some((pn, _)) => colq(df, pn).cast(dt).as(c.columnName)
          case None => phys.hive.get(c.columnId) match {
            case Some(key) =>
              regexp_extract(input_file_name(),
                java.util.regex.Pattern.quote(key) + "=([^/]+)", 1)
                .cast(dt).as(c.columnName)
            case None => initialDefaultFill(c, dt, snapshot)
          }
        }
      } ++ Seq(
        DuckLakeXLSpark.DecodeUri(col("_metadata.file_path")).as("__file"),
        col("_metadata.row_index").cast(LongType).as("__pos")): _*)
    }
    val data = dfs.reduce(_.unionByName(_))
    val pairs = files.flatMap(f =>
      dels.getOrElse(f.dataFileId, Vector.empty).map(d => d.path -> f.path))
    // no broadcast hint: delete sets are usually tiny (Catalyst broadcasts
    // them under the threshold on its own), but a foreign lake can carry
    // arbitrarily many tombstones — forcing broadcast would OOM the driver
    // exactly when it matters
    val pos = deletePositions(pairs)
    data.join(pos,
        data("__file") === pos("__dfile") && data("__pos") === pos("__dpos"),
        "left_anti")
      .drop("__file", "__pos")
  }

  /** the union of delete parquet files as (__dfile, __dpos). Column names
    * are resolved defensively: position from pos/position/row_id/row_index;
    * the target file from a file_path/file_name column when present
    * (Iceberg-style), else from the catalog's delete-file -> data-file
    * pairing (single-target delete files).
    */
  private def deletePositions(pairs: Seq[(String, String)]): DataFrame = {
    val delPaths = pairs.map(_._1).distinct
    val raw = spark.read.parquet(delPaths: _*)
    val lower = raw.columns.map(c => c.toLowerCase -> c).toMap
    val posCol = Seq("pos", "position", "row_id", "row_index")
      .collectFirst { case k if lower.contains(k) => lower(k) }
      .getOrElse(throw new IllegalArgumentException(
        s"positional delete file has no position column (saw: ${raw.columns.mkString(", ")})"))
    lower.get("file_path").orElse(lower.get("file_name")) match {
      case Some(fp) =>
        // r5 advice: the anti-join needs EXACT equality with catalog data-
        // file paths, but a real DuckLake workbook records delete targets
        // relative (path_is_relative=true) or URI-spelled — unresolved
        // spellings would silently resurrect every tombstoned row. Resolve
        // each distinct target (one per touched data file — bounded,
        // metadata-plane) against the catalog paths and fail loudly on
        // anything unresolvable rather than mis-delete.
        val targets = pairs.map(_._2).distinct
        val byNorm = targets.map(t => normUri(t) -> t).toMap
        val seen = raw.select(DuckLakeXLSpark.DecodeUri(colq(raw, fp)
            .cast(StringType)).as("p")).distinct()
          .collect().map(_.getString(0)).toSeq
        // r6 advice: a multi-target delete parquet can legitimately carry
        // rows for files since compacted/rewritten (their catalog link
        // ended while the parquet stays live for its other targets) — a
        // path with NO live candidate is therefore dropped with a
        // warning, not an error; rows referencing it cannot affect this
        // table. Only an AMBIGUOUS relative spelling (several live files
        // share the tail) still fails loudly: it may name a live target
        // we cannot disambiguate, and guessing would mis-delete.
        val resolved: Map[String, String] = seen.flatMap { p =>
          val n = normUri(p)
          byNorm.get(n) match {
            case Some(hit) => Some(p -> hit)
            case None =>
              val rel = n.stripPrefix("/")
              targets.filter(t => t.endsWith("/" + rel) || t == rel) match {
                case Seq(one) => Some(p -> one)
                case Seq() =>
                  DuckLakeXLSpark.log.warn("positional delete row target '{}' " +
                    "matches no live data file of this table (stale/out-of-scope " +
                    "target) — rows for it are ignored", p)
                  None
                case many => throw new IllegalArgumentException(
                  s"positional delete file references '$p', which is AMBIGUOUS: " +
                  s"${many.size} live data files share that relative path " +
                  s"(${many.take(3).mkString(", ")}${if (many.size > 3) ", …" else ""})")
              }
          }
        }.toMap
        val mapDF = spark.createDataFrame(
          resolved.toSeq.map { case (s, c) => Row(s, c) }.asJava,
          StructType(Seq(StructField("__draw", StringType, false),
            StructField("__dfile", StringType, false))))
        raw.select(
            DuckLakeXLSpark.DecodeUri(colq(raw, fp).cast(StringType)).as("__draw"),
            colq(raw, posCol).cast(LongType).as("__dpos"))
          .join(broadcast(mapDF), "__draw")
          .select(col("__dfile"), col("__dpos"))
      case None =>
        val mapDF = spark.createDataFrame(
          pairs.distinct.map { case (d, f) => Row(d, f) }.asJava,
          StructType(Seq(StructField("__dsrc", StringType, false),
            StructField("__dfile", StringType, false))))
        raw.withColumn("__dsrc", DuckLakeXLSpark.DecodeUri(input_file_name()))
          .join(broadcast(mapDF), "__dsrc")
          .select(col("__dfile"), colq(raw, posCol).cast(LongType).as("__dpos"))
    }
  }

  /** Materialize foreign positional deletes before DML: rewrite the
    * delete-affected files with their tombstoned rows dropped, end both
    * the data-file rows and their delete-file rows, register the merged
    * files under a new snapshot. After this the table is in the native
    * file-granular CoW shape every DML path assumes (per-file accounting
    * via `input_file_name` cannot see through the anti-join, so DML never
    * operates on merge-on-read files directly).
    */
  private def flushForeignDeletes(t: TableRow): Unit = {
    val dels = state.positionalDeletes(t.tableId)
    if (dels.isEmpty) return
    val dirty = state.filesOf(t.tableId).filter(f => dels.contains(f.dataFileId))
    if (dirty.isEmpty) return
    val snap = state.currentSnapshot + 1
    val written = writeParquetFiles(
      readWithDeletes(t, dirty, dels, state.currentSnapshot), t)
    val dirtyIds = dirty.map(_.dataFileId).toSet
    val ns = state.copy(
      dataFiles = state.dataFiles.map(d =>
        if (dirtyIds(d.dataFileId) && d.endSnapshot.isEmpty) d.copy(endSnapshot = Some(snap)) else d),
      deleteFiles = state.deleteFiles.map(d =>
        if (dirtyIds(d.dataFileId) && d.path.nonEmpty && d.endSnapshot.isEmpty)
          d.copy(endSnapshot = Some(snap)) else d))
    val (ns2, fid2) = appendWrittenFiles(ns, t, snap, state.nextFileId,
      written, state.schemaOf(t.tableId))
    state = ns2.copy(snapshotChanges = ns2.snapshotChanges :+
      SnapshotChangeRow(snap, s"materialized_deletes:${t.tableName}"))
    newSnapshot(state.nextCatalogId, fid2)
  }

  /** the table's catalog-inlined rows at `snapshot` as a typed DataFrame
    * (None when the table has no live inlined rows — the common case)
    */
  private def inlineDF(t: TableRow, snapshot: Long): Option[DataFrame] = {
    val live = state.inlinedOf(t.tableId, snapshot)
    if (live.isEmpty) None
    else {
      val schema = state.schemaOf(t.tableId, snapshot)
      val strSchema = StructType(schema.fields.map(f =>
        StructField(f.name, StringType, nullable = true)))
      val rows = live.map(r => Row.fromSeq(
        schema.fields.indices.map(i =>
          CatalogState.optValue(r.cells.applyOrElse(i, (_: Int) => "")).orNull)))
      val df = spark.createDataFrame(rows.asJava, strSchema)
      Some(df.select(schema.fields.map(f =>
        colq(df, f.name).cast(f.dataType).as(f.name)).toSeq: _*))
    }
  }

  /** read an arbitrary file subset of `t` with per-file physical names
    * resolved to the CURRENT column names — the DML twin of [[tableAt]]'s
    * epoch grouping (a plain `spark.read.schema(current)` would NULL out
    * every column renamed since a file was written)
    */
  private def readFiles(t: TableRow, files: Seq[DataFileRow]): DataFrame = {
    require(state.positionalDeletes(t.tableId).keySet
        .intersect(files.map(_.dataFileId).toSet).isEmpty,
      "internal: readFiles on merge-on-read files — flushForeignDeletes first")
    val curCols = state.columnsOf(t.tableId)
    val dfs = physGroups(t, files, state.currentSnapshot).map { case (phys, gfiles) =>
      val physSchema = StructType(curCols.flatMap(c => phys.cols.get(c.columnId).map {
        case (pn, pt) => StructField(pn, CatalogSchema.parseType(pt), c.nullsAllowed) }))
      val df = spark.read.schema(physSchema).parquet(gfiles.map(_.path): _*)
      epochProjection(df, phys, curCols)
    }
    dfs.reduce(_.unionByName(_))
  }

  /** Structured Streaming source over an APPEND-ONLY lake table: follows
    * new data files as INSERTs land (file-source streaming over the
    * table's directory — the Spark-native upgrade the reference's batch
    * engine cannot express). Copy-on-write DELETE/UPDATE/compact leave the
    * superseded files on disk for time travel, so a stream over a mutated
    * table would replay them: restrict to ingest-style append-only tables.
    */
  def tableStream(name: String): DataFrame = {
    val t = requireTable(name)
    val schema = state.schemaOf(t.tableId)
    // the stream reads the directory with the CURRENT schema; files from
    // an older column-name epoch would silently yield NULLs — refuse
    val cur = state.columnsOf(t.tableId)
    val staleEpoch = physGroups(t, state.filesOf(t.tableId), state.currentSnapshot)
      .exists { case (phys, _) =>
        phys.hive.nonEmpty ||
        cur.exists(c => phys.cols.get(c.columnId).exists {
          case (pn, pt) => pn != c.columnName || pt != c.columnType }) }
    require(!staleEpoch,
      s"tableStream($name): table has files from before a RENAME/ALTER COLUMN; " +
      "compact() or rewrite them first")
    require(state.inlinedOf(t.tableId).isEmpty,
      s"tableStream($name): table has catalog-inlined rows the file stream " +
      "cannot see; compact() flushes them first")
    require(state.positionalDeletes(t.tableId).isEmpty,
      s"tableStream($name): table carries foreign positional delete files; " +
      "run any DML or compact() to materialize them first")
    // the stream directory comes from the catalog-recorded file paths
    // (r6 advice), not from reconstructing dataPath/<schema>/<table>:
    // reconstruction reads empty for tables written under an older
    // directory layout and can collide when a main-schema table shares
    // its name with a schema directory. The files' common parent IS the
    // authoritative location; an empty table streams the directory its
    // future inserts will land in.
    val dirs = state.filesOf(t.tableId).map { f =>
      val p = Paths.get(f.path)
      (if (p.isAbsolute) p else Paths.get(dataPath).resolve(p)).getParent
    }.distinct
    require(dirs.size <= 1,
      s"tableStream($name): data files span ${dirs.size} directories " +
      s"(${dirs.take(3).mkString(", ")}); compact() into one first")
    val streamDir = dirs.headOption.getOrElse(Paths.get(dataPath, tableDirName(t)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1000)
      .parquet(streamDir.toString)
  }

  /** Structured-Streaming SINK into a lake table: every micro-batch
    * appends through the same pull -> insert -> push (CAS) bracket as
    * [[sql]]. Exactly-once across foreachBatch REPLAYS comes from a
    * `ducklake_metadata` watermark (`stream_batch:<table>`): the highest
    * committed batchId rides in the SAME workbook push as the data it
    * covers, so a replayed batch (restart, post-commit crash) sees
    * watermark >= batchId and skips — the data and its watermark cannot
    * diverge. A concurrent writer's push between batches is absorbed by
    * the standard CAS re-pull + replay.
    */
  def writeStreamTo(stream: DataFrame, table: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireTable(table)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendStreamBatch(table, batch, batchId)
      }
      .start()
  }

  private[graft] def appendStreamBatch(table: String, batch: DataFrame,
      batchId: Long): Unit = synchronized {
    def once(): Unit = withCatalogSync {
      val key = s"stream_batch:$table"
      val committed = state.metadata.find(_._1 == key).map(_._2.toLong)
      if (!committed.exists(_ >= batchId)) { // else a replayed batch: skip
        val pre = state.currentSnapshot
        executeInsertDF(table, None, batch)
        val post = state.currentSnapshot
        state = state.copy(
          metadata = state.metadata.filterNot(_._1 == key) :+ (key -> batchId.toString),
          snapshotChanges = state.snapshotChanges ++
            ((pre + 1) to post).map(SnapshotChangeRow(_,
              s"inserted_into_table:${splitQual(table)._2}")))
      }
    }
    try once()
    catch { case _: java.util.ConcurrentModificationException => once() }
  }

  /** `SHOW TABLES`: live tables and views, like the DuckDB pass-through */
  def showTables(): DataFrame = {
    val names = (state.liveTablesIn(curSchema).map(_.tableName) ++
      state.liveViews().map(_.viewName) ++
      tempTables.keys).distinct.sorted
    spark.createDataFrame(names.map(Row(_)).asJava,
      StructType(Seq(StructField("name", StringType, false))))
  }

  /** `DESCRIBE t`: column name/type/nullability from the catalog (views
    * answer too, via their analyzed schema — the DuckDB pass-through
    * describes both)
    */
  def describeTable(name: String): DataFrame = {
    val rows = if (isTempTable(name))
      tempTables(name.toLowerCase).schema.fields.toVector.map { f =>
        val tn = try CatalogSchema.typeName(f.dataType)
                 catch { case _: IllegalArgumentException => f.dataType.sql }
        Row(f.name, tn, if (f.nullable) "YES" else "NO")
      }
    else resolveTable(name) match {
      case Some(t) =>
        state.columnsOf(t.tableId).map(c =>
          Row(c.columnName, c.columnType, if (c.nullsAllowed) "YES" else "NO"))
      case None =>
        val v = state.viewByName(name).getOrElse(
          throw new IllegalArgumentException(s"no such table or view: $name"))
        sqlSelect((v.sql)).schema.fields.toVector.map { f =>
          val tn = try CatalogSchema.typeName(f.dataType)
                   catch { case _: IllegalArgumentException => f.dataType.sql }
          Row(f.name, tn, if (f.nullable) "YES" else "NO")
        }
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("column_name", StringType, false),
      StructField("column_type", StringType, false),
      StructField("null", StringType, false))))
  }

  /** DuckDB `DESCRIBE SELECT …` — plan-time only: the query's analyzed
    * schema, no execution (the describeTable output shape)
    */
  def describeQuery(select: String): DataFrame = {
    val rows = withLakeCatalog { registerNamedMeta(select); sqlSelect(select) }
      .schema.fields.toVector.map { f =>
        val tn = try CatalogSchema.typeName(f.dataType)
                 catch { case _: IllegalArgumentException => f.dataType.sql }
        Row(f.name, tn, if (f.nullable) "YES" else "NO")
      }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("column_name", StringType, false),
      StructField("column_type", StringType, false),
      StructField("null", StringType, false))))
  }

  /** DuckDB `PRAGMA table_info('t')` — the sqlite-style column listing
    * (cid, name, type, notnull, dflt_value, pk). Catalog metadata only;
    * no scan. The lake records no column defaults or key constraints, so
    * dflt_value is NULL and pk false — exactly what DuckDB reports for a
    * table created without them.
    */
  def tableInfo(name: String): DataFrame = {
    val t = resolveTable(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name"))
    val rows = state.columnsOf(t.tableId).zipWithIndex.map { case (c, i) =>
      Row(i.toLong, c.columnName, c.columnType, !c.nullsAllowed, null, false)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("cid", LongType, false),
      StructField("name", StringType, false),
      StructField("type", StringType, false),
      StructField("notnull", BooleanType, false),
      StructField("dflt_value", StringType, true),
      StructField("pk", BooleanType, false))))
  }

  /** graft's engine identity, reported by `PRAGMA version` / `version()`
    * in DuckDB's two-column shape
    */
  private val LibraryVersion = "v0.9.0-graft"
  private val SourceId = "spark-4.1.2"

  /** DuckDB session options SET through sql(); `current_setting('k')`
    * reads them back. Keys with no stored value fall back to the live
    * engine facts a DuckDB user expects the readout to reflect.
    */
  private val sessionOptions = scala.collection.mutable.Map[String, String]()

  /** DuckDB session variables (SET VARIABLE / getvariable): stored as
    * RENDERED SQL literals — the expression evaluates once at SET time,
    * exactly DuckDB's semantics */
  private val sessionVariables = scala.collection.mutable.Map[String, String]()

  private def renderSqlLiteral(v: Any): String = v match {
    case null => "CAST(NULL AS STRING)"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case d: java.sql.Date => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case t: java.time.LocalDateTime => s"TIMESTAMP '${t.toString.replace('T', ' ')}'"
    case d: java.time.LocalDate => s"DATE '$d'"
    // lists/structs/maps/binary have no faithful literal round-trip here —
    // toString would store 'ArraySeq(1, 2, 3)' and queries would silently
    // read junk (review-found); refuse loudly instead
    case other => throw new IllegalArgumentException(
      s"SET VARIABLE only supports atomic values (string/number/bool/" +
      s"date/timestamp); got ${other.getClass.getSimpleName}")
  }
  private def currentSetting(key: String): Option[String] = {
    val k = key.toLowerCase
    sessionOptions.get(k).orElse(k match {
      case "timezone" => Some(spark.conf.get("spark.sql.session.timeZone", "UTC"))
      case "threads" => Some(spark.sparkContext.defaultParallelism.toString)
      case "memory_limit" =>
        Some(s"${Runtime.getRuntime.maxMemory() / (1024 * 1024)}MB")
      case _ => None
    })
  }

  /** `PRAGMA version` — DuckDB's library_version/source_id readout */
  def versionInfo(): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(LibraryVersion, SourceId)),
      StructType(Seq(
        StructField("library_version", StringType, false),
        StructField("source_id", StringType, false))))

  /** `PRAGMA database_size` — DuckDB's storage/memory readout, sized from
    * the lake's parquet data directory (metadata walk only, no scan). The
    * block columns report the 256 KiB DuckDB default so scripts that do
    * arithmetic on them keep working; wal_size is zero because every push
    * IS the checkpoint in this design.
    */
  def databaseSize(): DataFrame = {
    def dirBytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      }
    def human(b: Long): String =
      if (b >= (1L << 30)) f"${b / (1024.0 * 1024 * 1024)}%.1f GiB"
      else if (b >= (1L << 20)) f"${b / (1024.0 * 1024)}%.1f MiB"
      else if (b >= (1L << 10)) f"${b / 1024.0}%.1f KiB"
      else s"$b bytes"
    val bytes = dirBytes(Paths.get(dataPath))
    val blockSize = 262144L
    val blocks = (bytes + blockSize - 1) / blockSize
    val rt = Runtime.getRuntime
    spark.createDataFrame(
      java.util.List.of(Row(lakeName, human(bytes), blockSize, blocks, blocks,
        0L, "0 bytes", human(rt.totalMemory() - rt.freeMemory()),
        human(rt.maxMemory()))),
      StructType(Seq(
        StructField("database_name", StringType, false),
        StructField("database_size", StringType, false),
        StructField("block_size", LongType, false),
        StructField("total_blocks", LongType, false),
        StructField("used_blocks", LongType, false),
        StructField("free_blocks", LongType, false),
        StructField("wal_size", StringType, false),
        StructField("memory_usage", StringType, false),
        StructField("memory_limit", StringType, false))))
  }

  /** `SUMMARIZE t` — DuckDB's per-column stats surface: ONE aggregation
    * pass over the live table (or view) computes min / max / distinct /
    * null percentage for every column. At 100 TB this is a single scan
    * with map-side partial aggregation — never a per-column loop of
    * jobs. `approx_unique` is exact here (the corpus pass costs the same
    * either way at test scale; a production knob would swap in
    * approx_count_distinct, the constant-size sketch).
    */
  def summarizeTable(name: String): DataFrame = {
    val (df, colTypes) = resolveTable(name) match {
      case Some(t) =>
        (table(name), state.columnsOf(t.tableId).map(c => c.columnType).toVector)
      case None =>
        val v = state.viewByName(name).getOrElse(
          throw new IllegalArgumentException(s"no such table or view: $name"))
        val d = withLakeCatalog(sqlSelect((v.sql)))
        (d, d.schema.fields.toVector.map { f =>
          try CatalogSchema.typeName(f.dataType)
          catch { case _: IllegalArgumentException => f.dataType.sql }
        })
    }
    val fields = df.schema.fields
    // avg / std / quantiles on NUMERIC columns only (DuckDB's NULLs
    // elsewhere); quantiles are EXACT interpolated percentiles cast
    // back to the column type — DuckDB's are t-digest approximations
    // (approx_quantile), a sketch no other engine reproduces bit-exact,
    // so the deterministic exact definition is used instead (r14;
    // nearby values, same rendering rules)
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      val numeric = f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
      def nstr(c: Column) =
        (if (numeric) c else lit(null)).cast(StringType)
      def qtile(p: Double) =
        if (numeric)
          percentile(col(f.name), lit(p)).cast(f.dataType).cast(StringType)
        else lit(null).cast(StringType)
      Seq(
        min(col(f.name)).cast(StringType).as(s"mn$i"),
        max(col(f.name)).cast(StringType).as(s"mx$i"),
        countDistinct(col(f.name)).as(s"du$i"),
        count(when(col(f.name).isNull, lit(1))).as(s"nl$i"),
        nstr(avg(col(f.name).cast(DoubleType))).as(s"av$i"),
        nstr(stddev_samp(col(f.name).cast(DoubleType))).as(s"sd$i"),
        qtile(0.25).as(s"q1$i"), qtile(0.5).as(s"q2$i"), qtile(0.75).as(s"q3$i"))
    }.toSeq
    val w = 9
    val r = df.agg(count(lit(1)).as("cnt"), aggs: _*).collect()(0)
    val cnt = r.getLong(0)
    val rows = fields.toVector.zipWithIndex.map { case (f, i) =>
      val nulls = r.getLong(w * i + 4)
      val pct =
        if (cnt == 0L) 0.0
        else BigDecimal(100.0 * nulls / cnt)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      Row(f.name, colTypes(i),
        r.get(w * i + 1).asInstanceOf[String],
        r.get(w * i + 2).asInstanceOf[String],
        r.getLong(w * i + 3),
        r.get(w * i + 5).asInstanceOf[String],
        r.get(w * i + 6).asInstanceOf[String],
        r.get(w * i + 7).asInstanceOf[String],
        r.get(w * i + 8).asInstanceOf[String],
        r.get(w * i + 9).asInstanceOf[String],
        cnt, pct)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("column_name", StringType, false),
      StructField("column_type", StringType, false),
      StructField("min", StringType, true),
      StructField("max", StringType, true),
      StructField("approx_unique", LongType, false),
      StructField("avg", StringType, true),
      StructField("std", StringType, true),
      StructField("q25", StringType, true),
      StructField("q50", StringType, true),
      StructField("q75", StringType, true),
      StructField("count", LongType, false),
      StructField("null_percentage", DoubleType, false))))
  }

  /** DuckDB `PIVOT t ON c [USING aggs] [GROUP BY gs]` — Spark's pivot
    * needs the value list DuckDB's binder discovers for itself, so the
    * distinct pivot-column values are scanned first (sorted ascending =
    * DuckDB's column order; bounded — the values BECOME output columns,
    * so the collect is output-schema-sized by definition). Grouping
    * defaults to every column not referenced by ON or USING, DuckDB's
    * implicit-group rule; rows come back ordered by the group columns so
    * the result is deterministic.
    */
  private def executePivot(s: StatementRouter.Pivot): DataFrame = {
    val df = if (s.table.startsWith("(")) {
      // PIVOT (subquery) ON … — the derived-table form (r17)
      withLakeCatalog(sqlSelect(
        s"SELECT * FROM ${s.table} __piv_src"))
    } else resolveTable(s.table) match {
      case Some(_) => table(s.table)
      case None =>
        val v = state.viewByName(s.table).getOrElse(
          throw new IllegalArgumentException(s"no such table or view: ${s.table}"))
        withLakeCatalog(sqlSelect((v.sql)))
    }
    // `ON k IN ('x','y')` pins the pivot columns EXPLICITLY (measured:
    // absent values yield all-NULL columns) and skips the discovery
    // scan — the shape to prefer at 100 TB, where a distinct over the
    // pivot column is itself a full-corpus aggregation
    val inRe = """(?is)^(.*?)\s+IN\s*\((.*)\)\s*$""".r
    val (onCol, pinnedVals) = s.onCol match {
      case inRe(c, vals) =>
        (c.trim.stripPrefix("\"").stripSuffix("\""),
         Some(StatementRouter.splitTopCommas(vals).map(_.trim).map { v =>
           if (v.length >= 2 && v.head == '\'' && v.last == '\'')
             v.substring(1, v.length - 1).replace("''", "'")
           else v
         }))
      case _ => (s.onCol, None)
    }
    val values: Seq[Any] = pinnedVals.map(_.map(_.asInstanceOf[Any])).getOrElse {
      val vs = df.select(col(onCol)).filter(col(onCol).isNotNull)
        .distinct().orderBy(onCol).limit(10001).collect().map(_.get(0)).toSeq
      require(vs.length <= 10000,
        s"PIVOT ON $onCol: ${vs.length} distinct values exceed the 10k column cap")
      vs
    }
    // the agg/group text is user DuckDB SQL like any other — it rides the
    // dialect rewrites (list() -> collect_list, // -> div, …) before expr()
    val aggs: Seq[Column] =
      if (s.using.isEmpty) Seq(count(lit(1)))
      else s.using.map { case (ex, alias) =>
        val c = expr(StatementRouter.rewriteDialect(ex))
        alias.map(c.as).getOrElse(c)
      }
    val groupCols: Seq[String] = s.groupBy match {
      case Some(gs) =>
        gs.map(g => StatementRouter.rewriteDialect(g)
          .stripPrefix("\"").stripSuffix("\""))
      case None =>
        // DuckDB's implicit rule: group by every column not referenced
        // in ON or USING. A COLUMN reference in the agg text is an
        // identifier NOT followed by '(' — a bare word-boundary scan
        // would also match function heads, silently dropping a column
        // that shares a name with an aggregate (e.g. a column `sum`)
        val usedInAgg = df.columns.filter(c => s.using.exists { case (ex, _) =>
          s"(?i)\\b${java.util.regex.Pattern.quote(c)}\\b(?!\\s*\\()".r
            .findFirstIn(ex).isDefined
        }).toSet
        df.columns.filter(c => c != onCol && !usedInAgg(c)).toSeq
    }
    val out0 = df.groupBy(groupCols.map(col): _*)
      .pivot(onCol, values)
      .agg(aggs.head, aggs.tail: _*)
    // a trailing ORDER BY orders the pivot OUTPUT (r17); default stays
    // group-column order
    val out = s.orderBy match {
      case Some(ob) => out0.orderBy(StatementRouter.splitTopCommas(ob)
        .map(_.trim).filter(_.nonEmpty)
        .map { o =>
          val m = """(?is)^(.*?)\s+(ASC|DESC)$""".r.findFirstMatchIn(o)
          val base = expr(StatementRouter.rewriteDialect(
            m.map(_.group(1).trim).getOrElse(o)))
          if (m.exists(_.group(2).equalsIgnoreCase("DESC"))) base.desc else base
        }: _*)
      case None => out0.orderBy(groupCols.map(col): _*)
    }
    // DuckDB's default count(*) pivot shows 0 for empty cells (an explicit
    // USING keeps NULL on both engines); Spark's pivot leaves them NULL
    if (s.using.isEmpty) out.na.fill(0L, out.columns.diff(groupCols))
    else out
  }

  /** snapshot history (reference TODO `snapshots()`, README.md:162),
    * including the `ducklake_snapshot_changes` audit label
    */
  def snapshots(): DataFrame = {
    val byId = state.snapshotChanges.map(c => c.snapshotId -> c.changesMade).toMap
    val rows = state.snapshots.map(s =>
      Row(s.snapshotId, s.snapshotTime, s.schemaVersion, byId.getOrElse(s.snapshotId, "")))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("snapshot_id", LongType, false),
      StructField("snapshot_time", StringType, false),
      StructField("schema_version", LongType, false),
      StructField("changes", StringType, false))))
  }

  /** plan-time file pruning by ducklake_file_column_statistics: the files
    * of `name` whose [min,max] interval may intersect [lo,hi] on `column`
    * (numeric compare). This is the DuckLake stats-skipping counterpart
    * (SURVEY.md §4.2) — at scale the scan only lists these files.
    */
  def prunedFiles(name: String, column: String, lo: Double, hi: Double): Seq[String] = {
    val t = requireTable(name)
    val col = state.columnsOf(t.tableId).find(_.columnName.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(s"no such column: $column"))
    val statsByFile = state.fileColumnStats
      .filter(s => s.tableId == t.tableId && s.columnId == col.columnId)
      .map(s => s.dataFileId -> s).toMap
    state.filesOf(t.tableId).filter { f =>
      statsByFile.get(f.dataFileId) match {
        case Some(s) =>
          val mn = s.minValue.flatMap(_.toDoubleOption)
          val mx = s.maxValue.flatMap(_.toDoubleOption)
          mn.forall(_ <= hi) && mx.forall(_ >= lo)
        case None => true // no stats -> cannot skip
      }
    }.map(_.path)
  }

  /** table-level column statistics — DuckLake's
    * `ducklake_table_column_stats`, DERIVED from the per-file stats the
    * writer already records instead of stored redundantly (the file stats
    * are the source of truth and stay exact under file-granular CoW).
    * Catalog-inlined rows are not covered until they flush.
    */
  def columnStats(table: String): DataFrame = {
    val t = requireTable(table)
    val live = state.filesOf(t.tableId).map(_.dataFileId).toSet
    def pick(dt: org.apache.spark.sql.types.DataType, vals: Seq[String], min: Boolean): Option[String] =
      if (vals.isEmpty) None
      else Some(vals.reduce { (a, b) =>
        val cmp = dt match {
          case _: NumericType =>
            try BigDecimal(a).compare(BigDecimal(b))
            catch { case scala.util.control.NonFatal(_) => a.compareTo(b) }
          case _ => a.compareTo(b)
        }
        if ((cmp <= 0) == min) a else b
      })
    val rows = state.columnsOf(t.tableId).map { c =>
      val sts = state.fileColumnStats
        .filter(s => s.columnId == c.columnId && live(s.dataFileId))
      val dt = CatalogSchema.parseType(c.columnType)
      Row(c.columnName, c.columnType,
        pick(dt, sts.flatMap(_.minValue), min = true).orNull,
        pick(dt, sts.flatMap(_.maxValue), min = false).orNull,
        sts.map(_.nullCount).sum)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("column_name", StringType, false),
      StructField("column_type", StringType, false),
      StructField("min_value", StringType, true),
      StructField("max_value", StringType, true),
      StructField("null_count", LongType, false))))
  }

  def currentState: CatalogState = state

  // ----------------------------------------------------------- internals
  /** The one owner of the lake's temp views in the session: every TEMP
    * table, then every live lake view no TEMP table shadows (temp first),
    * after dropping every name registered since the last sync (metadata
    * relations built on the old catalog too: a table that takes such a name
    * must not stay shadowed). Lake tables resolve through the DSv2 catalog.
    * Runs at construction, at the start of each statement and at the end of
    * each commit bracket; a no-op unless `state` or `tempTables` is new.
    */
  private def syncViews(): Unit = if ((state ne syncedState) || (tempTables ne syncedTemps)) {
    (syncedNames ++ statementViews).foreach(spark.catalog.dropTempView)
    statementViews = Set.empty
    syncedNames = tempTables.keySet
    tempTables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    // SQL views in creation order (a later view may reference an earlier
    // one); a view whose base was dropped must not brick the whole lake
    // on reopen. Resolution needs the catalog scope.
    val views = state.liveViews().filterNot(v => tempTables.contains(v.viewName.toLowerCase))
    if (views.nonEmpty) withLakeCatalog {
      views.foreach { v =>
        registerNamedMeta(v.sql)
        try {
          sqlSelect(v.sql).createOrReplaceTempView(v.viewName)
          syncedNames += v.viewName.toLowerCase
        } catch { case e: Exception =>
          DuckLakeXLSpark.log.warn("view {} skipped: {}", v.viewName, e.getMessage)
        }
      }
    }
    syncedState = state
    syncedTemps = tempTables
  }

  /** r16 (reference README.md:164-165 upstream TODO, closable offline):
    * the metadata tables themselves as snapshot-versioned relations.
    * Catalog rows already carry begin_snapshot/end_snapshot columns, so
    * meta time travel is the same aliveAt filter the data plane uses —
    * `ducklake_table AT (VERSION => n)` answers the catalog as of n,
    * and the bare names read the FULL history (what the reference shows
    * when you query `__ducklake_metadata_<lake>` tables directly).
    */
  private[graft] def metaTableDf(name: String, snapshot: Option[Long]): Option[DataFrame] = {
    def alive(b: Long, e: Option[Long]): Boolean =
      snapshot.forall(s => b <= s && e.forall(_ > s))
    def longCol(v: Option[Long]): Any = v.map(Long.box).orNull
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "ducklake_table" => Some(spark.createDataFrame(
        state.tables.filter(t => alive(t.beginSnapshot, t.endSnapshot))
          .sortBy(t => (t.tableId, t.beginSnapshot))
          .map(t => Row(t.tableId, t.tableUuid, t.beginSnapshot,
            longCol(t.endSnapshot), t.schemaId, t.tableName)).asJava,
        StructType(Seq(
          StructField("table_id", LongType, false),
          StructField("table_uuid", StringType, false),
          StructField("begin_snapshot", LongType, false),
          StructField("end_snapshot", LongType, true),
          StructField("schema_id", LongType, false),
          StructField("table_name", StringType, false)))))
      case "ducklake_schema" => Some(spark.createDataFrame(
        state.schemas.filter(s0 => alive(s0.beginSnapshot, s0.endSnapshot))
          .sortBy(s0 => (s0.schemaId, s0.beginSnapshot))
          .map(s0 => Row(s0.schemaId, s0.schemaUuid, s0.beginSnapshot,
            longCol(s0.endSnapshot), s0.schemaName)).asJava,
        StructType(Seq(
          StructField("schema_id", LongType, false),
          StructField("schema_uuid", StringType, false),
          StructField("begin_snapshot", LongType, false),
          StructField("end_snapshot", LongType, true),
          StructField("schema_name", StringType, false)))))
      case "ducklake_column" => Some(spark.createDataFrame(
        state.columns.filter(c => alive(c.beginSnapshot, c.endSnapshot))
          .sortBy(c => (c.tableId, c.columnOrder, c.beginSnapshot))
          .map(c => Row(c.columnId, c.beginSnapshot, longCol(c.endSnapshot),
            c.tableId, c.columnOrder.toLong, c.columnName, c.columnType,
            c.nullsAllowed)).asJava,
        StructType(Seq(
          StructField("column_id", LongType, false),
          StructField("begin_snapshot", LongType, false),
          StructField("end_snapshot", LongType, true),
          StructField("table_id", LongType, false),
          StructField("column_order", LongType, false),
          StructField("column_name", StringType, false),
          StructField("column_type", StringType, false),
          StructField("nulls_allowed", BooleanType, false)))))
      // r17 (VERDICT r16 task 8): the file-plane metadata tables join
      // the schema-plane ones under the same aliveAt filter, so
      // `ducklake_data_file AT (VERSION => n)` answers which parquet
      // files a snapshot could read — schema archaeology end-to-end
      case "ducklake_data_file" => Some(spark.createDataFrame(
        state.dataFiles.filter(f => alive(f.beginSnapshot, f.endSnapshot))
          .sortBy(f => (f.dataFileId, f.beginSnapshot))
          .map(f => Row(f.dataFileId, f.tableId, f.beginSnapshot,
            longCol(f.endSnapshot), f.path, f.recordCount, f.fileSizeBytes))
          .asJava,
        StructType(Seq(
          StructField("data_file_id", LongType, false),
          StructField("table_id", LongType, false),
          StructField("begin_snapshot", LongType, false),
          StructField("end_snapshot", LongType, true),
          StructField("path", StringType, false),
          StructField("record_count", LongType, false),
          StructField("file_size_bytes", LongType, false)))))
      case "ducklake_delete_file" => Some(spark.createDataFrame(
        state.deleteFiles.filter(f => alive(f.beginSnapshot, f.endSnapshot))
          .sortBy(f => (f.deleteFileId, f.beginSnapshot))
          .map(f => Row(f.deleteFileId, f.tableId, f.beginSnapshot,
            longCol(f.endSnapshot), f.dataFileId, f.path, f.deleteCount))
          .asJava,
        StructType(Seq(
          StructField("delete_file_id", LongType, false),
          StructField("table_id", LongType, false),
          StructField("begin_snapshot", LongType, false),
          StructField("end_snapshot", LongType, true),
          StructField("data_file_id", LongType, false),
          StructField("path", StringType, false),
          StructField("delete_count", LongType, false)))))
      case "ducklake_snapshot" => Some(spark.createDataFrame(
        state.snapshots.filter(sn => snapshot.forall(sn.snapshotId <= _))
          .sortBy(_.snapshotId)
          .map(sn => Row(sn.snapshotId, sn.snapshotTime, sn.schemaVersion,
            sn.nextCatalogId, sn.nextFileId)).asJava,
        StructType(Seq(
          StructField("snapshot_id", LongType, false),
          StructField("snapshot_time", StringType, false),
          StructField("schema_version", LongType, false),
          StructField("next_catalog_id", LongType, false),
          StructField("next_file_id", LongType, false)))))
      case _ => None
    }
  }

  /** Build each bare `ducklake_*` relation `text` names and no table, view
    * or TEMP table holds, quoted spans included (a false positive costs one
    * build); once per statement and per view body, never per nested SELECT. */
  private def registerNamedMeta(text: String): Unit =
    MetaTableRe.findAllIn(text).map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      .filter(n => state.tableByName(n).isEmpty && state.viewByName(n).isEmpty &&
        !tempTables.contains(n))
      .foreach(registerMetaView)

  /** Build the catalog-backed relation `name` from the current `state` as
    * a temp view, for the statement that named it; returns `name`.
    * `information_schema.tables` / `.columns` (SURVEY §2) mirror what the
    * DuckDB pass-through shows the reference: user tables under the lake
    * catalog, metadata tables under `__ducklake_metadata_<lake>`, as its
    * bootstrap lists them (ducklakexl.py:238-241).
    */
  private def registerMetaView(name: String): String = {
    val df = name match {
      case "__info_tables" =>
        val metaCatalog = s"__ducklake_metadata_$lakeName"
        val tRows =
          state.liveTables().sortBy(_.tableName).map(t =>
            Row(lakeName, schemaNameOf(t), t.tableName, "BASE TABLE",
              state.tagOf(t.tableId, "comment").orNull)) ++
          state.liveViews().sortBy(_.viewName).map(v =>
            Row(lakeName, "main", v.viewName, "VIEW", null)) ++
          CatalogSchema.tables.map { case (meta, _) =>
            Row(metaCatalog, "main", meta, "BASE TABLE", null)
          }
        spark.createDataFrame(tRows.asJava, StructType(Seq(
          StructField("table_catalog", StringType, false),
          StructField("table_schema", StringType, false),
          StructField("table_name", StringType, false),
          StructField("table_type", StringType, false),
          StructField("comment", StringType, true))))
      case "__info_columns" =>
        val cRows = state.liveTables().sortBy(_.tableName).flatMap { t =>
          state.columnsOf(t.tableId).map(c =>
            Row(lakeName, schemaNameOf(t), t.tableName, c.columnName,
              (c.columnOrder + 1).toLong, c.columnType,
              if (c.nullsAllowed) "YES" else "NO",
              state.columnTagOf(t.tableId, c.columnId, "comment").orNull))
        }
        spark.createDataFrame(cRows.asJava, StructType(Seq(
          StructField("table_catalog", StringType, false),
          StructField("table_schema", StringType, false),
          StructField("table_name", StringType, false),
          StructField("column_name", StringType, false),
          StructField("ordinal_position", LongType, false),
          StructField("data_type", StringType, false),
          StructField("is_nullable", StringType, false),
          StructField("comment", StringType, true))))
      // duckdb_tables() / duckdb_columns() — the native-metadata spellings,
      // with the columns users actually read (estimated_size = the
      // catalog's exact record count — per-file counts + inlined rows —
      // answered from the metadata plane like the bare count(*) shortcut)
      case "__duckdb_tables" =>
        val dtRows = state.liveTables().sortBy(_.tableName).map { t =>
          Row(lakeName, schemaNameOf(t), t.tableName,
            state.tagOf(t.tableId, "pk").isDefined,
            state.filesOf(t.tableId).map(_.recordCount).sum +
              state.inlinedOf(t.tableId).size,
            state.columnsOf(t.tableId).size.toLong)
        }
        spark.createDataFrame(dtRows.asJava, StructType(Seq(
          StructField("database_name", StringType, false),
          StructField("schema_name", StringType, false),
          StructField("table_name", StringType, false),
          StructField("has_primary_key", BooleanType, false),
          StructField("estimated_size", LongType, false),
          StructField("column_count", LongType, false))))
      case "__duckdb_columns" =>
        val dcRows = state.liveTables().sortBy(_.tableName).flatMap { t =>
          state.columnsOf(t.tableId).map(c =>
            Row(lakeName, schemaNameOf(t), t.tableName, c.columnName,
              c.columnOrder.toLong, c.columnType, c.nullsAllowed))
        }
        spark.createDataFrame(dcRows.asJava, StructType(Seq(
          StructField("database_name", StringType, false),
          StructField("schema_name", StringType, false),
          StructField("table_name", StringType, false),
          StructField("column_name", StringType, false),
          StructField("column_index", LongType, false),
          StructField("data_type", StringType, false),
          StructField("is_nullable", BooleanType, false))))
      case n => metaTableDf(n, None).get // a bare name: full history
    }
    statementView(name, df)
  }

  /** register `df` as the temp view `name` for the running statement and
    * return `name`; the view is dropped when the commit bracket ends
    * (or at the next [[syncViews]] that reconciles a new catalog)
    */
  private def statementView(name: String, df: DataFrame): String = {
    df.createOrReplaceTempView(name)
    statementViews += name
    name
  }

  private def executeCreateView(s: StatementRouter.CreateView): Unit = {
    state.viewByName(s.name) match {
      case Some(old) if !s.orReplace =>
        throw new IllegalArgumentException(s"view exists: ${s.name}")
      case maybeOld =>
        require(resolveTable(s.name).isEmpty, s"table exists: ${s.name}")
        sqlSelect((s.select)) // validate eagerly, like DuckDB
        val snap = state.currentSnapshot + 1
        val vid = state.nextCatalogId
        val ended = maybeOld match {
          case Some(old) => state.views.map(v =>
            if (v.viewId == old.viewId && v.endSnapshot.isEmpty) v.copy(endSnapshot = Some(snap)) else v)
          case None => state.views
        }
        val sid = state.schemaByName(curSchema).map(_.schemaId).getOrElse(1L)
        state = state.copy(views = ended :+
          ViewRow(vid, UUID.randomUUID().toString, snap, None, sid, s.name, s.select))
        newSnapshot(vid + 1, state.nextFileId)
    }
  }

  private def executeDropView(s: StatementRouter.DropView): Unit = {
    state.viewByName(s.name) match {
      case None =>
        if (!s.ifExists) throw new IllegalArgumentException(s"no such view: ${s.name}")
      case Some(v) =>
        val snap = state.currentSnapshot + 1
        state = state.copy(views = state.views.map(x =>
          if (x.viewId == v.viewId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x))
        newSnapshot(state.nextCatalogId, state.nextFileId)
    }
  }

  private def newSnapshot(nextCatalogId: Long, nextFileId: Long): Long = {
    val id = state.currentSnapshot + 1
    val now = tsFmt.format(Instant.now().truncatedTo(ChronoUnit.SECONDS))
    state = state.copy(snapshots = state.snapshots :+
      SnapshotRow(id, now, state.snapshots.last.schemaVersion + 1, nextCatalogId, nextFileId))
    id
  }

  private def executeCreate(s: StatementRouter.CreateTable): Unit = {
    if (resolveTable(s.name).isDefined) {
      if (s.ifNotExists) return
      throw new IllegalArgumentException(s"table exists: ${s.name}")
    }
    val (schemaName, bare) = splitQual(s.name)
    val sid = state.schemaByName(schemaName).map(_.schemaId).getOrElse(
      throw new IllegalArgumentException(s"no such schema: $schemaName"))
    // validate types early
    s.cols.foreach { case (_, t) => CatalogSchema.parseType(t) }
    var cid = state.nextCatalogId
    val tableId = cid
    cid += 1
    val snap = state.currentSnapshot + 1
    // PRIMARY KEY implies NOT NULL (DuckDB); defs may be empty for
    // callers constructing CreateTable programmatically — fall back flat
    val defs =
      if (s.defs.nonEmpty) s.defs
      else s.cols.map { case (n, t) => StatementRouter.ColDef(n, t) }
    val pkSet = s.pk.map(_.toLowerCase).toSet
    val colTags = Vector.newBuilder[ColumnTagRow]
    val colRows = defs.zipWithIndex.map { case (d, i) =>
      // canonicalTypeName (not typeName∘parseType): JSON/UUID/HUGEINT/
      // TIMESTAMPTZ share a Spark storage type with VARCHAR/DECIMAL/
      // TIMESTAMP — the catalog string must keep the declared identity
      val r = ColumnRow(cid, snap, None, tableId, i, d.name,
        CatalogSchema.canonicalTypeName(d.ty),
        nullsAllowed = !(d.notNull || pkSet(d.name.toLowerCase)))
      // DEFAULT / CHECK round-trip as column tags (like pk), surviving
      // push/pull with zero sheet-schema change; write paths read them
      d.default.foreach(e => colTags += ColumnTagRow(tableId, cid, snap, None, "default", e))
      d.check.foreach(e => colTags += ColumnTagRow(tableId, cid, snap, None, "check", e))
      // ENUM membership rides the same CHECK machinery (r14): the
      // catalog string keeps ENUM(...), the VARCHAR carrier stores the
      // value, and the synthesized check refuses non-members loudly
      CatalogSchema.enumMembers(d.ty).foreach { ms =>
        colTags += ColumnTagRow(tableId, cid, snap, None, "check",
          enumCheckExpr(d.name, ms))
      }
      if (CatalogSchema.isBitType(d.ty))
        colTags += ColumnTagRow(tableId, cid, snap, None, "check",
          bitCheckExpr(d.name))
      cid += 1
      r
    }
    // declared PRIMARY KEY -> a `pk` table tag (survives push/pull via
    // ducklake_tag); feeds ON CONFLICT / OR REPLACE target resolution
    val colSet = s.cols.map(_._1.toLowerCase).toSet
    val pkTag =
      if (s.pk.isEmpty) Vector.empty
      else {
        val missing = s.pk.filterNot(k => colSet(k.toLowerCase))
        require(missing.isEmpty,
          s"PRIMARY KEY names unknown column(s): ${missing.mkString(", ")}")
        Vector(TagRow(tableId, snap, None, "pk", s.pk.mkString(",")))
      }
    // table-level CHECK constraints -> numbered table tags
    val checkTags = s.tableChecks.zipWithIndex.map { case (e, i) =>
      TagRow(tableId, snap, None, s"check:$i", e) }.toVector
    state = state.copy(
      tables = state.tables :+ TableRow(tableId, UUID.randomUUID().toString,
        snap, None, sid, bare),
      columns = state.columns ++ colRows,
      tags = state.tags ++ pkTag ++ checkTags,
      columnTags = state.columnTags ++ colTags.result(),
      tableStats = state.tableStats :+ TableStatsRow(tableId, 0L))
    newSnapshot(cid, state.nextFileId)
  }

  /** `CREATE SCHEMA` — a new `ducklake_schema` row with a snapshot
    * lifetime (DuckLake multi-schema; the reference gets schemas free from
    * the DuckDB pass-through)
    */
  private def executeCreateSchema(s: StatementRouter.CreateSchema): Unit = {
    if (state.schemaByName(s.name).isDefined) {
      if (s.ifNotExists) return
      throw new IllegalArgumentException(s"schema exists: ${s.name}")
    }
    val sid = state.nextCatalogId
    val snap = state.currentSnapshot + 1
    state = state.copy(schemas = state.schemas :+
      SchemaRow(sid, UUID.randomUUID().toString, snap, None, s.name))
    newSnapshot(sid + 1, state.nextFileId)
  }

  /** `DROP SCHEMA [CASCADE]` — ends the schema row's lifetime; CASCADE
    * drops its live tables first (time travel still sees everything)
    */
  private def executeDropSchema(s: StatementRouter.DropSchema): Unit = {
    state.schemaByName(s.name) match {
      case None =>
        if (!s.ifExists) throw new IllegalArgumentException(s"no such schema: ${s.name}")
      case Some(sc) =>
        require(!sc.schemaName.equalsIgnoreCase("main"), "cannot drop schema main")
        val live = state.liveTables().filter(_.schemaId == sc.schemaId)
        if (live.nonEmpty) {
          require(s.cascade, s"schema ${s.name} is not empty " +
            s"(${live.map(_.tableName).mkString(", ")}); use DROP SCHEMA ... CASCADE")
          live.foreach(t => executeDrop(
            StatementRouter.DropTable(s"${sc.schemaName}.${t.tableName}", ifExists = true)))
        }
        val snap = state.currentSnapshot + 1
        state = state.copy(schemas = state.schemas.map(x =>
          if (x.schemaId == sc.schemaId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x))
        newSnapshot(state.nextCatalogId, state.nextFileId)
        if (curSchema.equalsIgnoreCase(sc.schemaName)) {
          curSchema = "main"
          // Catalyst's current database tracks curSchema (the USE arm
          // sets both) — leaving it on the dropped schema would fail
          // every later bare-name resolution in the script (review-found)
          try spark.catalog.setCurrentDatabase("main")
          catch { case scala.util.control.NonFatal(_) => () }
        }
    }
  }

  /** the DSv2 write bridge: `INSERT INTO <lake>.<schema>.<t> …` /
    * `df.writeTo(...).append()` through plain Spark SQL lands here (the
    * same pull -> mutate -> push bracket as [[sql]]); overwrite = the
    * builder's truncate (INSERT OVERWRITE)
    */
  private[graft] def insertFromCatalog(schemaName: String, table: String,
      df: DataFrame, overwrite: Boolean): Unit = withCatalogSync {
    val qname = s"$schemaName.$table"
    val pre = state.currentSnapshot
    if (overwrite) executeDelete(StatementRouter.Delete(qname, None))
    executeInsertDF(qname, None, df)
    val post = state.currentSnapshot
    if (post > pre)
      state = state.copy(snapshotChanges = state.snapshotChanges ++
        ((pre + 1) to post).map(SnapshotChangeRow(_, s"inserted_into_table:$table")))
  }

  private def executeCtas(s: StatementRouter.CreateTableAs): Unit = {
    if (resolveTable(s.name).isDefined && s.ifNotExists) return
    val df = sqlSelect((s.select))
    val cols = df.schema.fields.map(f => (f.name, CatalogSchema.typeName(f.dataType))).toSeq
    executeCreate(StatementRouter.CreateTable(s.name, cols, ifNotExists = false))
    executeInsertDF(s.name, None, df)
  }

  /** DML `RETURNING <exprs>`: run the write, hand back the affected rows
    * (post-image for INSERT/UPDATE, the removed rows for DELETE)
    * projected through the expression list. INSERT…SELECT and the
    * pre-images snapshot via `localCheckpoint` so a self-referencing or
    * nondeterministic source cannot drift between what was written and
    * what is returned — the materialization RETURNING semantics imply
    * (DuckDB materializes the clause's result the same way).
    */
  private def executeReturning(s: StatementRouter.Returning): DataFrame = {
    val post: DataFrame = s.inner match {
      case iv: StatementRouter.InsertValues =>
        require(!isTempTable(iv.table), "RETURNING on a TEMP table is not supported")
        val t = requireTable(iv.table)
        def postImage(): DataFrame =
          coerceToTableSchema(state.schemaOf(t.tableId), iv.cols,
            valuesDF(iv.table, iv.cols, iv.valuesSql),
            defaultTextsOf(t).map { case (k, v) => k -> dexpr(v) })
        val img = postImage()
        val volatileRow = img.queryExecution.analyzed
          .exists(_.expressions.exists(_.find(!_.deterministic).isDefined))
        if (volatileRow) {
          // a non-deterministic default or VALUES expression (uuid(),
          // random()) must be drawn ONCE: checkpoint the coerced rows,
          // insert FROM the checkpoint, and return that same draw —
          // recomputing would return values that were never written
          // (DuckDB returns the written values). Costs the inline/
          // one-file path, which a volatile row forfeits by nature.
          val df = img.localCheckpoint(true)
          executeInsertDF(iv.table, None, df)
          df
        } else {
          // a deterministic VALUES literal — recompute the post-image
          // instead of checkpointing, keeping the inline/one-file path
          executeInsertDF(iv.table, iv.cols, valuesDF(iv.table, iv.cols, iv.valuesSql))
          postImage()
        }
      case is: StatementRouter.InsertSelect =>
        require(!isTempTable(is.table), "RETURNING on a TEMP table is not supported")
        require(!StatementRouter.hasCall(is.select, "nextval") && !is.byName,
          "INSERT … RETURNING takes a plain SELECT source (no sequences, no BY NAME)")
        val t = requireTable(is.table)
        val df = coerceToTableSchema(state.schemaOf(t.tableId), is.cols,
          sqlSelect((is.select)),
          defaultTextsOf(t).map { case (k, v) => k -> dexpr(v) })
          .localCheckpoint(true)
        executeInsertDF(is.table, None, df)
        df
      case d: StatementRouter.Delete =>
        require(!isTempTable(d.table), "RETURNING on a TEMP table is not supported")
        val pre = sqlSelect((s"SELECT * FROM ${d.table}" +
          d.where.map(w => s" WHERE $w").getOrElse(""))).localCheckpoint(true)
        executeDelete(d)
        pre
      case u: StatementRouter.Update =>
        require(!isTempTable(u.table), "RETURNING on a TEMP table is not supported")
        val schema = state.schemaOf(requireTable(u.table).tableId)
        // post-image = assignments applied over the PRE-update matching
        // rows (the predicate reads old values, like the update itself)
        val proj = schema.fieldNames.map { fn =>
          u.sets.find(_._1.equalsIgnoreCase(fn)) match {
            case Some((_, e)) => s"($e) AS `$fn`"
            case None         => s"`$fn`"
          }
        }.mkString(", ")
        val pre = sqlSelect((s"SELECT $proj FROM ${u.table}" +
          u.where.map(w => s" WHERE $w").getOrElse(""))).localCheckpoint(true)
        executeUpdate(u)
        pre
      case other => throw new IllegalStateException(s"unreachable RETURNING: $other")
    }
    post.createOrReplaceTempView("__graft_returning")
    try sqlSelect((s"SELECT ${s.exprs} FROM __graft_returning"))
      .localCheckpoint(true)
    finally spark.catalog.dropTempView("__graft_returning")
  }

  /** TEMP-table variant of [[valuesDF]]: column names come from the temp
    * snapshot's schema, not the lake catalog
    */
  private def tempValuesDF(table: String, cols: Option[Seq[String]],
      valuesSql: String): DataFrame = {
    val names = cols.getOrElse(tempTables(table.toLowerCase).columns.toSeq)
    spark.sql("SELECT * FROM (" +
      StatementRouter.rewriteDialect(StatementRouter.sparkifyLiterals(valuesSql)) +
      s") AS t(${names.map(sqlq).mkString(", ")})")
  }

  /** INSERT into a TEMP table: coerce to the snapshot's schema (same
    * rules as the lake path), append, re-snapshot
    */
  private def insertIntoTemp(table: String, cols: Option[Seq[String]],
      dfIn: DataFrame): Unit = {
    val cur = tempTables(table.toLowerCase)
    val schema = cur.schema
    val coerced = cols match {
      case None =>
        require(dfIn.schema.length == schema.length,
          s"INSERT column count ${dfIn.schema.length} != table arity ${schema.length}")
        dfIn.select(dfIn.columns.zip(schema.fields).toSeq.map { case (c, f) =>
          colq(dfIn, c).cast(f.dataType).as(f.name)
        }: _*)
      case Some(names) =>
        require(names.length == dfIn.schema.length,
          s"INSERT column list size ${names.length} != value arity ${dfIn.schema.length}")
        val byName = names.map(_.toLowerCase).zip(dfIn.columns).toMap
        val unknown = byName.keySet -- schema.fieldNames.map(_.toLowerCase).toSet
        require(unknown.isEmpty, s"INSERT names unknown column(s): ${unknown.mkString(", ")}")
        dfIn.select(schema.fields.map { f =>
          byName.get(f.name.toLowerCase) match {
            case Some(src) => colq(dfIn, src).cast(f.dataType).as(f.name)
            case None      => lit(null).cast(f.dataType).as(f.name)
          }
        }.toSeq: _*)
    }
    putTempTable(table, cur.union(coerced))
  }

  /** `VALUES (…),(…)` -> DataFrame named after the explicit column list
    * (when given) or the table's columns. The DEFAULT keyword in a value
    * position substitutes that column's declared default (NULL without
    * one, DuckDB semantics); `INSERT INTO t DEFAULT VALUES` is one row
    * of all defaults.
    */
  private def valuesDF(table: String, cols: Option[Seq[String]], valuesSql0: String): DataFrame = {
    val t = requireTable(table)
    val names = cols.getOrElse(state.columnsOf(t.tableId).map(_.columnName))
    val defaults = defaultTextsOf(t)
    def defaultText(i: Int): String =
      if (i < names.length) defaults.getOrElse(names(i).toLowerCase, "NULL") else "NULL"
    // INTERVAL-destined cells: Spark's interval parse cannot carry
    // DuckDB's day/time split ('2 days' and '48 hours' are one micros
    // value, and year-month vs day-time literals have no common VALUES
    // type), so a BARE interval-literal cell canonicalizes TEXTUALLY
    // here — the only layer where the source spelling still exists.
    // Non-literal interval expressions fall through to the runtime
    // coercion (coerceValue/IntervalText).
    val ivPos: Set[Int] = {
      val types = state.columnsOf(t.tableId)
        .map(c => c.columnName.toLowerCase -> c.columnType).toMap
      names.zipWithIndex.collect { case (n, i)
        if types.get(n.toLowerCase).exists(_.trim.equalsIgnoreCase("INTERVAL")) => i
      }.toSet
    }
    val ivLitRe = """(?is)^INTERVAL\s+(?:'[^']*'|[0-9][0-9_ a-zA-Z]*)$""".r
    def canonCell(it: String, i: Int): String = {
      val c = it.trim
      if (ivPos.contains(i) && ivLitRe.matches(c))
        try {
          val (m, d, us) = graft.functions.IntervalText.parse(c)
          "'" + graft.functions.IntervalText.render(m, d, us) + "'"
        } catch { case _: IllegalArgumentException => it }
      else it
    }
    val hasDefaultTok = "(?i)\\bDEFAULT\\b".r.findFirstIn(valuesSql0).isDefined
    val valuesSql =
      if (valuesSql0.trim.equalsIgnoreCase("DEFAULT VALUES"))
        "VALUES (" + names.indices.map(defaultText).mkString(", ") + ")"
      else if (!hasDefaultTok && ivPos.isEmpty) valuesSql0
      else {
        // substitute bare DEFAULT tokens / canonicalize bare interval
        // literals per value position
        val tail = valuesSql0.trim.replaceFirst("(?is)^VALUES", "")
        val rows = StatementRouter.splitTopCommas(tail).map { row =>
          val r = row.trim
          require(r.startsWith("(") && r.endsWith(")"),
            s"cannot parse VALUES row: $r")
          val items = StatementRouter.splitTopCommas(r.drop(1).dropRight(1))
          items.zipWithIndex.map { case (it, i) =>
            // a substituted DEFAULT may itself be an interval literal
            canonCell(
              if (it.trim.equalsIgnoreCase("DEFAULT")) defaultText(i) else it, i)
          }.mkString("(", ", ", ")")
        }
        "VALUES " + rows.mkString(", ")
      }
    spark.sql("SELECT * FROM (" +
      StatementRouter.rewriteDialect(StatementRouter.sparkifyLiterals(valuesSql)) +
      s") AS t(${names.map(sqlq).mkString(", ")})")
  }

  /** append: write df as parquet data file(s) under dataPath/<table>/, add
    * ducklake_data_file + per-file column stats rows, advance snapshot.
    * Each task partition lands as its own data file — the same
    * file-per-parallel-writer shape a 1000-executor INSERT produces.
    * With an explicit column list, unlisted columns fill with NULL
    * (standard SQL); otherwise the insert is positional.
    */
  /** live DEFAULT expression texts of a table, lowercase column -> text */
  private def defaultTextsOf(t: TableRow): Map[String, String] =
    state.columnsOf(t.tableId).flatMap(c =>
      state.columnTagOf(t.tableId, c.columnId, "default")
        .map(e => c.columnName.toLowerCase -> e)).toMap

  /** NOT NULL + CHECK enforcement as a ZERO-extra-job projection: each
    * constrained column wraps in when(violation, raise_error(…)), and the
    * CHECK conditions attach to the first output column (a detached guard
    * column would be pruned away by the optimizer — review-found risk).
    * A violating row fails the WRITE job loudly, before anything
    * registers in the catalog; the orphaned part files belong to the
    * scheduled-deletion sweep like any aborted writer's. DuckDB CHECK
    * semantics: only an expression evaluating FALSE violates — NULL
    * passes (hence the coalesce(…, true)).
    */
  private def enforceConstraints(t: TableRow, df: DataFrame): DataFrame = {
    val cols = state.columnsOf(t.tableId)
    val notNull = cols.filter(!_.nullsAllowed).map(_.columnName.toLowerCase).toSet
    val colChecks = cols.flatMap(c =>
      state.columnTagOf(t.tableId, c.columnId, "check").map(e => c.columnName -> e))
    val tableChecks = state.tags.filter(tg => tg.objectId == t.tableId &&
      tg.key.startsWith("check:") && tg.endSnapshot.isEmpty).map(_.value)
    if (notNull.isEmpty && colChecks.isEmpty && tableChecks.isEmpty) return df
    val allChecks = colChecks.map(_._2) ++ tableChecks
    val checkCond =
      if (allChecks.isEmpty) None
      else Some(allChecks.map(e =>
        coalesce(dexpr(e).cast(BooleanType), lit(true))).reduce(_ && _))
    val out = df.schema.fields.zipWithIndex.map { case (f, i) =>
      var c = colq(df, f.name)
      if (notNull(f.name.toLowerCase))
        c = when(c.isNull, raise_error(lit(
          s"NOT NULL constraint failed: ${t.tableName}.${f.name}"))
          .cast(f.dataType)).otherwise(c)
      if (i == 0) checkCond.foreach { ok =>
        c = when(ok, c).otherwise(raise_error(lit(
          s"CHECK constraint failed: ${t.tableName}")).cast(f.dataType))
      }
      c.as(f.name)
    }
    df.select(out.toSeq: _*)
  }

  /** cast-to-declared-type (reference relies on DuckDB's implicit cast of
    * VALUES to column types); with a column list, unlisted columns fill
    * their declared DEFAULT (NULL without one) — shared by the insert
    * path and DML RETURNING's post-image
    */
  /** cast one incoming value column to its table field: INTERVAL
    * columns (metadata-tagged by schemaOf) coerce through the canonical
    * text renderer instead of a bare cast — `.cast(STRING)` on a Spark
    * interval would store Spark's `INTERVAL '…'` spelling, which DuckDB
    * text it is not */
  private def coerceValue(src: Column, f: StructField): Column = {
    val c =
      if (f.metadata.contains("graft_logical") &&
          f.metadata.getString("graft_logical") == "INTERVAL")
        org.apache.spark.sql.graftshim.ColumnBridge.column(
          graft.functions.IntervalText(
            org.apache.spark.sql.graftshim.ColumnBridge.expression(src)))
      else src
    c.cast(f.dataType)
  }

  private def coerceField(src: Column, f: StructField): Column =
    coerceValue(src, f).as(f.name)

  private def coerceToTableSchema(schema: StructType, cols: Option[Seq[String]],
      dfIn: DataFrame, defaults: Map[String, Column] = Map.empty): DataFrame = cols match {
    case None =>
      require(dfIn.schema.length == schema.length,
        s"INSERT column count ${dfIn.schema.length} != table arity ${schema.length}")
      dfIn.select(dfIn.columns.zip(schema.fields).toSeq.map { case (c, f) =>
        coerceField(colq(dfIn, c), f)
      }: _*)
    case Some(names) =>
      require(names.length == dfIn.schema.length,
        s"INSERT column list size ${names.length} != value arity ${dfIn.schema.length}")
      val byName = names.map(_.toLowerCase).zip(dfIn.columns).toMap
      val unknown = byName.keySet -- schema.fieldNames.map(_.toLowerCase).toSet
      require(unknown.isEmpty, s"INSERT names unknown column(s): ${unknown.mkString(", ")}")
      dfIn.select(schema.fields.map { f =>
        byName.get(f.name.toLowerCase) match {
          case Some(src) => coerceField(colq(dfIn, src), f)
          case None      => coerceField(
                              defaults.getOrElse(f.name.toLowerCase, lit(null)), f)
        }
      }.toSeq: _*)
  }

  private def executeInsertDF(table: String, cols: Option[Seq[String]], dfIn: DataFrame): Unit = {
    val t = requireTable(table)
    val schema = state.schemaOf(t.tableId)
    val df = enforceConstraints(t, coerceToTableSchema(schema, cols, dfIn,
      defaultTextsOf(t).map { case (k, v) => k -> dexpr(v) }))

    val partCols = state.partitionColumnsOf(t.tableId).map(_.columnName)
    // a literal VALUES folds to a LocalRelation — driver-sized by
    // construction. With data inlining enabled, tiny ones commit as
    // catalog metadata only (collect of a LocalRelation is driver-local:
    // ZERO Spark jobs, no data file — DuckLake data_inlining); otherwise
    // they still coalesce to one file per INSERT (the DuckLake shape).
    val isLocalValues = df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    // inlined cells round-trip through the workbook as strings and cast
    // back at scan time — only ATOMIC column types survive that trip
    // (Row.get.toString on an array/struct/binary writes a cell no cast
    // can read back: a committed-but-unreadable table, review-found).
    // Non-atomic schemas take the normal file write instead.
    val inlinable = schema.fields.forall(f => f.dataType match {
      case _: ArrayType | _: StructType | _: MapType | BinaryType => false
      case _ => true
    })
    if (inlineRowLimit > 0 && partCols.isEmpty && isLocalValues && inlinable) {
      val rows = df.collect()
      val values = rows.map(r => schema.fields.indices.map(i => Option(r.get(i)).map(_.toString)))
      // an inlined cell reads back through CatalogState.optValue, which
      // takes '', blanks, None, nan, <NA> and NaT for NULL: a row holding
      // such a value is written to a data file instead
      val readsBack = values.forall(_.forall(_.forall(v => CatalogState.optValue(v).contains(v))))
      if (rows.length <= inlineRowLimit && readsBack) {
        val snap = state.currentSnapshot + 1
        state = state.copy(
          inlinedData = state.inlinedData ++ values.map { vs =>
            // NULL is a blank cell, and a pull keeps no trailing blank
            val cells = vs.map(_.getOrElse("")).toVector
            InlinedDataRow(t.tableId, snap, None, cells.take(cells.lastIndexWhere(_.nonEmpty) + 1))
          },
          tableStats = bumpStats(t.tableId, rows.length))
        newSnapshot(state.nextCatalogId, state.nextFileId)
        return
      }
    }
    if (partCols.isEmpty) {
      val written = writeParquetFiles(if (isLocalValues) df.coalesce(1) else df, t)
      if (written.isEmpty) { newSnapshot(state.nextCatalogId, state.nextFileId); return }
      registerWrittenFiles(t, written)
    } else {
      val writtenPV = writeParquetFilesPartitioned(
        if (isLocalValues) df.coalesce(1) else df, t, partCols)
      if (writtenPV.isEmpty) { newSnapshot(state.nextCatalogId, state.nextFileId); return }
      registerWrittenFiles(t, writtenPV.map(_._1),
        writtenPV.map { case (p, v) => p.toString -> v }.toMap)
    }
  }

  /** move a table's live inlined rows into a real parquet file (DuckLake
    * `ducklake_flush_inlined_data`): runs automatically before any
    * DML/ALTER/compaction so those paths stay purely file-based
    */
  private def flushInlined(t: TableRow): Unit = {
    inlineDF(t, state.currentSnapshot).foreach { df =>
      val snap = state.currentSnapshot + 1
      val written = writeParquetFiles(df.coalesce(1), t)
      val (ns, fid) = appendWrittenFiles(state, t, snap, state.nextFileId,
        written, state.schemaOf(t.tableId))
      state = ns.copy(
        inlinedData = ns.inlinedData.map(r =>
          if (r.tableId == t.tableId && r.endSnapshot.isEmpty) r.copy(endSnapshot = Some(snap)) else r),
        snapshotChanges = ns.snapshotChanges :+
          SnapshotChangeRow(snap, s"flushed_inlined:${t.tableName}"))
      newSnapshot(state.nextCatalogId, fid)
    }
  }

  /** add data_file + per-file column stats rows (+ partition-value rows,
    * when given) for freshly written files (stats from their footers, see
    * [[FileStats]]), bump table stats, advance snapshot
    */
  private def registerWrittenFiles(t: TableRow, written: Seq[Path],
      partVals: Map[String, Seq[Option[String]]] = Map.empty): Unit = {
    val schema = state.schemaOf(t.tableId)
    val snap = state.currentSnapshot + 1
    val (ns, fid) = appendWrittenFiles(state, t, snap, state.nextFileId, written, schema, partVals)
    val added = ns.dataFiles
      .filter(d => d.tableId == t.tableId && d.beginSnapshot == snap)
      .map(_.recordCount).sum
    state = ns
    state = state.copy(tableStats = bumpStats(t.tableId, added))
    newSnapshot(state.nextCatalogId, fid)
  }

  /** Distributed DELETE (r2 verdict fix #4): the old shape ran one
    * count-job per data file in a serial driver loop (~300k sequential
    * jobs at 100k files). The scale-safe shape is a CONSTANT number of
    * Spark jobs regardless of file count:
    *   job 1 — per-file hit counts via `input_file_name()` over the whole
    *           live file set (pred pushed to parquet, so unaffected files
    *           cost footer + skipped row groups);
    *   job 2 — ONE copy-on-write rewrite of the union of partially
    *           matching files (fully-matching files drop with zero IO);
    * The rewritten files' stats come from their parquet footers
    * ([[FileStats]]), so no third job reads them back.
    * A WHERE-less DELETE (incl. TRUNCATE) is metadata-only: zero jobs.
    */
  private def executeDelete(s: StatementRouter.Delete): Unit = {
    val t = requireTable(s.table)
    flushInlined(t)
    flushForeignDeletes(t)
    val schema = state.schemaOf(t.tableId)
    val live = state.filesOf(t.tableId)
    val snap = state.currentSnapshot + 1
    var fid = state.nextFileId
    if (live.isEmpty) { newSnapshot(state.nextCatalogId, fid); return }

    val hits: Map[String, Long] = s.where match {
      case None    => live.map(f => f.path -> f.recordCount).toMap // truncate
      case Some(w) => hitCounts(t, live, dexpr(w))
    }
    val affected = live.filter(f => hits.getOrElse(f.path, 0L) > 0L)
    if (affected.isEmpty) { newSnapshot(state.nextCatalogId, fid); return }
    val affectedIds = affected.map(_.dataFileId).toSet

    var ns = state.copy(dataFiles = state.dataFiles.map(d =>
      if (affectedIds(d.dataFileId) && d.endSnapshot.isEmpty) d.copy(endSnapshot = Some(snap)) else d))
    affected.foreach { f =>
      ns = ns.copy(deleteFiles = ns.deleteFiles :+ DeleteFileRow(
        fid, t.tableId, snap, None, f.dataFileId, "", hits(f.path)))
      fid += 1
    }

    val partial = affected.filter(f => hits(f.path) < f.recordCount)
    if (partial.nonEmpty) {
      val pred = dexpr(s.where.get) // partial implies a WHERE existed
      // SQL DELETE removes rows where the predicate is TRUE; rows where it
      // evaluates NULL must SURVIVE — a bare !pred drops them (NULL
      // satisfies neither pred nor !pred). kept = NOT coalesce(pred, false)
      // also makes the kept count exactly recordCount - hits, so the
      // pred-TRUE hit counts double as exact removed-row accounting.
      val keep = readFiles(t, partial)
        .filter(!coalesce(pred, lit(false)))
      val (ns2, fid2) = appendWrittenFiles(ns, t, snap, fid,
        writeParquetFiles(keep, t), schema)
      ns = ns2; fid = fid2
    }

    state = ns
    state = state.copy(tableStats =
      bumpStats(t.tableId, -affected.map(f => hits(f.path)).sum))
    newSnapshot(state.nextCatalogId, fid)
  }

  /** Distributed copy-on-write UPDATE — same constant-job shape as DELETE:
    * one hit-count job, ONE rewrite of the union of affected files with
    * every SET expression evaluated against the pre-update row; stats
    * from the rewritten files' footers. Row counts are unchanged, so table
    * stats stay put.
    */
  private def executeUpdate(s: StatementRouter.Update): Unit = {
    val t = requireTable(s.table)
    flushInlined(t)
    flushForeignDeletes(t)
    val schema = state.schemaOf(t.tableId)
    val sets = s.sets.map { case (c, e) => c.toLowerCase -> dexpr(e) }.toMap
    val unknown = sets.keySet -- schema.fieldNames.map(_.toLowerCase).toSet
    require(unknown.isEmpty, s"UPDATE sets unknown column(s): ${unknown.mkString(", ")}")
    val pred = s.where.map(dexpr).getOrElse(lit(true))
    val live = state.filesOf(t.tableId)
    val snap = state.currentSnapshot + 1
    var fid = state.nextFileId
    if (live.isEmpty) { newSnapshot(state.nextCatalogId, fid); return }

    val hits: Map[String, Long] = s.where match {
      case None    => live.map(f => f.path -> f.recordCount).toMap
      case Some(w) => hitCounts(t, live, dexpr(w))
    }
    val affected = live.filter(f => hits.getOrElse(f.path, 0L) > 0L)
    if (affected.isEmpty) { newSnapshot(state.nextCatalogId, fid); return }
    val affectedIds = affected.map(_.dataFileId).toSet

    var ns = state.copy(dataFiles = state.dataFiles.map(d =>
      if (affectedIds(d.dataFileId) && d.endSnapshot.isEmpty) d.copy(endSnapshot = Some(snap)) else d))
    affected.foreach { f =>
      ns = ns.copy(deleteFiles = ns.deleteFiles :+ DeleteFileRow(
        fid, t.tableId, snap, None, f.dataFileId, "", hits(f.path)))
      fid += 1
    }

    val src = readFiles(t, affected)
    val updated = src.select(schema.fields.map { fld =>
      sets.get(fld.name.toLowerCase) match {
        case Some(e) => when(pred, coerceValue(e, fld)).otherwise(colq(src, fld.name)).as(fld.name)
        case None    => colq(src, fld.name)
      }
    }.toSeq: _*)
    val (ns2, fid2) = appendWrittenFiles(ns, t, snap, fid,
      writeParquetFiles(enforceConstraints(t, updated), t), schema)
    state = ns2
    newSnapshot(state.nextCatalogId, fid2)
  }

  /** run `body` with AQE off: the DML helper aggregations are single-shuffle
    * group-bys with nothing for AQE to re-plan, and AQE materializes each
    * query stage as its own Spark job — with it, "3 jobs per DELETE"
    * becomes 5. Session-global toggle is fine under the lake's single-writer
    * contract.
    */
  private def withoutAQE[A](body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** MERGE INTO upsert — a Spark-native extension (the reference's engine
    * has no MERGE). Same constant-job copy-on-write shape as
    * DELETE/UPDATE:
    *   job 1 — affected files via a left-semi join of the target (with
    *           `input_file_name`) against the source;
    *   job 2 — ONE rewrite of the affected-file union with the matched
    *           action applied (UPDATE SET sees both aliases; DELETE drops
    *           matched rows);
    *   job 3 — NOT MATCHED source rows anti-joined against the full
    *           pre-merge target, written as fresh insert files.
    * Written files take their stats from their footers ([[FileStats]]).
    * Cardinality (standard MERGE semantics): a target row matched by
    * several source rows raises an error — detected for free against the
    * rewrite's footer record counts, which must preserve the affected row
    * count.
    */
  private def executeMerge(s: StatementRouter.Merge): Unit = {
    val t = requireTable(s.table)
    flushInlined(t)
    flushForeignDeletes(t)
    val schema = state.schemaOf(t.tableId)
    val live = state.filesOf(t.tableId)
    val snap = state.currentSnapshot + 1
    var fid = state.nextFileId
    val srcDF = sqlSelect((s.sourceSql)).alias(s.srcAlias)
    val cond = dexpr(s.on)

    // per-file MATCHED-target-row counts (left_semi keeps each matched
    // target row exactly once, regardless of source multiplicity) — the
    // keys are the affected files, the counts the tombstone provenance
    val matchedByPath: Map[String, Long] =
      if (live.isEmpty) Map.empty
      else {
        val tgt = readFiles(t, live)
          .withColumn("__f", input_file_name()).alias(s.tgtAlias)
        tgt.join(srcDF, cond, "left_semi")
          .groupBy("__f").agg(count(lit(1)).as("c"))
          .collect().map(r => normUri(r.getString(0)) -> r.getLong(1)).toMap
      }
    val affected = live.filter(f => matchedByPath.contains(normUri(f.path)))

    var ns = state
    if (affected.nonEmpty && (s.matchedSets.isDefined || s.matchedDelete)) {
      val ids = affected.map(_.dataFileId).toSet
      ns = ns.copy(dataFiles = ns.dataFiles.map(d =>
        if (ids(d.dataFileId) && d.endSnapshot.isEmpty) d.copy(endSnapshot = Some(snap)) else d))
      affected.foreach { f =>
        ns = ns.copy(deleteFiles = ns.deleteFiles :+ DeleteFileRow(
          fid, t.tableId, snap, None, f.dataFileId, "",
          matchedByPath.getOrElse(normUri(f.path), 0L)))
        fid += 1
      }
      val aff = readFiles(t, affected).alias(s.tgtAlias)
      val srcM = srcDF.withColumn("__m", lit(1))
      val joined = aff.join(srcM, cond, "left_outer")
      val rewritten =
        if (s.matchedDelete)
          joined.filter(col("__m").isNull)
            .select(schema.fields.map(f =>
              col(s"${s.tgtAlias}.${f.name}").as(f.name)).toSeq: _*)
        else {
          val sets = s.matchedSets.get.map { case (c, e) => c.toLowerCase -> dexpr(e) }.toMap
          val unknown = sets.keySet -- schema.fieldNames.map(_.toLowerCase).toSet
          require(unknown.isEmpty, s"MERGE sets unknown column(s): ${unknown.mkString(", ")}")
          joined.select(schema.fields.map { f =>
            val tcol = col(s"${s.tgtAlias}.${f.name}")
            sets.get(f.name.toLowerCase) match {
              case Some(e) => when(col("__m").isNotNull, coerceValue(e, f)).otherwise(tcol).as(f.name)
              case None    => tcol.as(f.name)
            }
          }.toSeq: _*)
        }
      val rewrittenFiles = writeParquetFiles(enforceConstraints(t, rewritten), t)
      val (ns2, fid2) = appendWrittenFiles(ns, t, snap, fid, rewrittenFiles, schema)
      // cardinality guard (standard MERGE semantics: engines ERROR when one
      // target row is matched by several source rows — the left_outer
      // rewrite would silently duplicate it). The rewrite of an UPDATE
      // preserves row counts, so any excess over the affected files' row
      // sum proves a multi-match; the footers already counted outputs,
      // making this check free.
      if (s.matchedSets.isDefined) {
        val rewCnt = ns2.dataFiles
          .filter(d => d.tableId == t.tableId && d.beginSnapshot == snap)
          .map(_.recordCount).sum
        val affCnt = affected.map(_.recordCount).sum
        if (rewCnt != affCnt) {
          rewrittenFiles.foreach(Files.deleteIfExists(_))
          throw new IllegalArgumentException(
            "MERGE aborted: a target row is matched by multiple source rows " +
            s"(rewrite produced $rewCnt rows for $affCnt affected) — " +
            "make the ON condition key-unique on the source side")
        }
      }
      ns = ns2; fid = fid2
    }

    s.notMatchedInsert.foreach { case (cols, valuesSql) =>
      val anti =
        if (live.isEmpty) srcDF
        else srcDF.join(readFiles(t, live).alias(s.tgtAlias), cond, "left_anti")
      val exprs = StatementRouter.splitTopCommas(valuesSql)
      val rowDF = anti.select(exprs.map(dexpr): _*)
      val names = cols.getOrElse(schema.fieldNames.toSeq)
      require(names.length == exprs.length,
        s"MERGE INSERT arity ${exprs.length} != column list ${names.length}")
      val byName = names.map(_.toLowerCase).zip(rowDF.columns).toMap
      val defaults = defaultTextsOf(t).map { case (k, v) => k -> dexpr(v) }
      val aligned = rowDF.select(schema.fields.map { f =>
        byName.get(f.name.toLowerCase) match {
          case Some(src) => coerceField(colq(rowDF, src), f)
          case None      => coerceField(
                              defaults.getOrElse(f.name.toLowerCase, lit(null)), f)
        }
      }.toSeq: _*)
      val (ns3, fid3) = appendWrittenFiles(ns, t, snap, fid,
        writeParquetFiles(enforceConstraints(t, aligned), t), schema)
      ns = ns3; fid = fid3
    }

    val added = ns.dataFiles
      .filter(d => d.tableId == t.tableId && d.beginSnapshot == snap)
      .map(_.recordCount).sum
    val removed =
      if (s.matchedSets.isDefined || s.matchedDelete) affected.map(_.recordCount).sum
      else 0L
    state = ns
    state = state.copy(tableStats = bumpStats(t.tableId, added - removed))
    newSnapshot(state.nextCatalogId, fid)
  }

  /** `INSERT … ON CONFLICT` / `INSERT OR REPLACE|IGNORE` — desugars onto
    * [[executeMerge]] (same constant-job copy-on-write shape). The
    * conflict target is the explicit `(cols)` list or the table's
    * declared PRIMARY KEY (`pk` tag); `EXCLUDED.x` maps to the merge
    * source alias; OR REPLACE updates every non-key column; DO NOTHING /
    * OR IGNORE keeps only the NOT-MATCHED insert. A source that hits the
    * same target row twice errors via MERGE's cardinality guard — the
    * same double-update rejection DuckDB applies.
    */
  private def executeUpsert(s: StatementRouter.InsertOnConflict): Unit = {
    val t = requireTable(s.table)
    val schema = state.schemaOf(t.tableId)
    val names = s.cols.getOrElse(schema.fieldNames.toSeq)
    val keys =
      if (s.conflictCols.nonEmpty) s.conflictCols
      else state.tagOf(t.tableId, "pk").map(_.split(",").toSeq).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT ON CONFLICT on ${s.table} needs an explicit conflict " +
          "target list or a declared PRIMARY KEY"))
    val badKeys = keys.filterNot(k => names.exists(_.equalsIgnoreCase(k)))
    require(badKeys.isEmpty,
      s"conflict target column(s) not in the insert list: ${badKeys.mkString(", ")}")
    // DO NOTHING / OR IGNORE with duplicate conflict keys INSIDE the
    // source: DuckDB's row-at-a-time upsert inserts the first and ignores
    // the rest, while the set-based anti-join would insert all of them —
    // creating duplicate-PK rows a later DO UPDATE then trips over. Keep
    // the first row per key (VALUES order; any-one for an unordered
    // SELECT source). The window shuffles on the same conflict key the
    // merge partitions by, so no extra exchange shape at scale.
    val srcSql = s.action match {
      case StatementRouter.ConflictNothing =>
        s"""SELECT ${names.mkString(", ")} FROM (
           |  SELECT __v.*, row_number() OVER (
           |    PARTITION BY ${keys.mkString(", ")} ORDER BY __rid) AS __rn
           |  FROM (SELECT *, monotonically_increasing_id() AS __rid
           |        FROM (${s.body}) AS __v0(${names.mkString(", ")})) __v
           |) WHERE __rn = 1""".stripMargin
      case _ =>
        s"SELECT * FROM (${s.body}) AS __v(${names.mkString(", ")})"
    }
    val on = keys.map(k => s"t.$k = src.$k").mkString(" AND ")
    val matchedSets = s.action match {
      case StatementRouter.ConflictNothing => None
      case StatementRouter.ConflictUpdate(sets) =>
        // EXCLUDED.x -> the merge source; a bare-table-name prefix (how
        // DuckDB references the target's current row) -> the target alias
        val bare = s.table.split('.').last
        Some(sets.map { case (c, e) =>
          val e1 = StatementRouter.mapOutsideLiterals(e)(
            _.replaceAll("(?i)\\bEXCLUDED\\s*\\.", "src."))
          (c, StatementRouter.mapOutsideLiterals(e1)(_.replaceAll(
            "(?i)\\b" + java.util.regex.Pattern.quote(bare) + "\\s*\\.", "t.")))
        })
      case StatementRouter.ConflictReplace =>
        // OR REPLACE replaces the WHOLE row (DuckDB: delete + insert):
        // every non-key table column updates — named ones from the
        // source, unnamed ones to NULL (keeping the old value would be
        // an UPDATE, not a replace — review-found)
        val nonKey = schema.fieldNames.toSeq
          .filterNot(n => keys.exists(_.equalsIgnoreCase(n)))
        require(nonKey.nonEmpty,
          "INSERT OR REPLACE: every table column is part of the key")
        Some(nonKey.map(n =>
          if (names.exists(_.equalsIgnoreCase(n))) (n, s"src.$n")
          else (n, "NULL")))
    }
    executeMerge(StatementRouter.Merge(s.table, "t", srcSql, "src", on,
      matchedSets, matchedDelete = false,
      notMatchedInsert = Some((Some(names), names.map(n => s"src.$n").mkString(", ")))))
  }

  /** per-file matching-row counts in ONE Spark job (`input_file_name`),
    * keyed by the catalog's stored path
    */
  private def hitCounts(t: TableRow, files: Seq[DataFileRow],
      pred: org.apache.spark.sql.Column): Map[String, Long] = withoutAQE {
    val byNorm = files.map(f => normUri(f.path) -> f.path).toMap
    readFiles(t, files)
      .filter(pred)
      .groupBy(input_file_name().as("_file")).agg(count(lit(1)).as("c"))
      .collect()
      .flatMap(r => byNorm.get(normUri(r.getString(0))).map(_ -> r.getLong(1)))
      .toMap
  }

  /** fold freshly written files (+ their [[FileStats]] and, for
    * partitioned writes, their per-file partition values) into `ns` at
    * `snap`
    */
  private def appendWrittenFiles(ns0: CatalogState, t: TableRow, snap: Long,
      fid0: Long, written: Seq[Path], schema: StructType,
      partVals: Map[String, Seq[Option[String]]] = Map.empty): (CatalogState, Long) = {
    if (written.isEmpty) return (ns0, fid0)
    val cols = ns0.columnsOf(t.tableId)
    val statsByPath = FileStats.collect(spark, written.map(_.toString), schema, cols)
    var ns = ns0
    var fid = fid0
    written.foreach { p =>
      val (cnt, st) = statsByPath(p.toString)
      ns = ns.copy(
        dataFiles = ns.dataFiles :+
          DataFileRow(fid, t.tableId, snap, None, p.toString, cnt, Files.size(p)),
        fileColumnStats = ns.fileColumnStats ++ cols.map { c =>
          val (mn, mx, nl) = st(c.columnId)
          FileColumnStatsRow(fid, t.tableId, c.columnId, mn, mx, nl)
        },
        filePartitionValues = ns.filePartitionValues ++
          partVals.getOrElse(p.toString, Seq.empty).zipWithIndex.map { case (v, i) =>
            FilePartitionValueRow(fid, t.tableId, i, v.flatMap(CatalogState.optValue))
          })
      fid += 1
    }
    (ns, fid)
  }

  /** Schema evolution via column/table-row lifetimes — metadata-only, no
    * data file is touched (the DuckLake shape):
    *  - RENAME TO: end the table row, begin a row with the same tableId;
    *  - ADD COLUMN: new column row from this snapshot on — old parquet
    *    files simply lack the field and scan as NULL (standard parquet
    *    schema evolution);
    *  - DROP COLUMN: end the column row — files keep the bytes, the
    *    schema stops projecting them, and time travel still sees them.
    */
  private def executeAlter(s: StatementRouter.AlterTable): Unit = {
    val t = requireTable(s.table)
    // flush BEFORE any schema change so inline cells always match the
    // column set they were written under
    flushInlined(t)
    flushForeignDeletes(t)
    val snap = state.currentSnapshot + 1
    s.op match {
      case StatementRouter.RenameTo(newName) =>
        require(state.tableByNameIn(schemaNameOf(t), newName).isEmpty &&
            state.viewByName(newName).isEmpty,
          s"name exists: $newName")
        state = state.copy(tables = state.tables.map(x =>
          if (x.tableId == t.tableId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x)
          :+ t.copy(beginSnapshot = snap, endSnapshot = None, tableName = newName))
        newSnapshot(state.nextCatalogId, state.nextFileId)
      case StatementRouter.AddColumn(name, sqlType) =>
        // the captured "type" may carry a constraint tail (DEFAULT /
        // NOT NULL / CHECK) — parse it like a CREATE TABLE column def
        val (ds, pkL, tcl) = StatementRouter.splitColumnDefs(s"$name $sqlType")
        require(ds.length == 1 && pkL.isEmpty && tcl.isEmpty,
          s"cannot parse ADD COLUMN definition: $name $sqlType")
        val d = ds.head
        val canon = CatalogSchema.canonicalTypeName(d.ty) // validate early
        require(!state.columnsOf(t.tableId).exists(_.columnName.equalsIgnoreCase(name)),
          s"column exists: $name")
        require(!d.notNull || d.default.isDefined ||
            state.filesOf(t.tableId).isEmpty,
          s"ADD COLUMN $name NOT NULL needs a DEFAULT: existing rows " +
          "would violate the constraint")
        d.default.foreach(e => dexpr(e)) // validate the expression early
        val cid = state.nextCatalogId
        val order = state.columnsOf(t.tableId).map(_.columnOrder).maxOption.getOrElse(-1) + 1
        // DEFAULT on ADD COLUMN is BOTH the insert default and the
        // initial default (DuckLake: rows predating the column read it);
        // post-ADD files carry the physical column, so explicit NULLs
        // survive — see epochProjection
        val newTags =
          d.default.toVector.flatMap(e => Vector(
            ColumnTagRow(t.tableId, cid, snap, None, "default", e),
            ColumnTagRow(t.tableId, cid, snap, None, "initial_default", e))) ++
          d.check.toVector.map(e =>
            ColumnTagRow(t.tableId, cid, snap, None, "check", e)) ++
          CatalogSchema.enumMembers(d.ty).toVector.map(ms =>
            ColumnTagRow(t.tableId, cid, snap, None, "check",
              enumCheckExpr(name, ms))) ++
          (if (CatalogSchema.isBitType(d.ty))
            Vector(ColumnTagRow(t.tableId, cid, snap, None, "check",
              bitCheckExpr(name)))
          else Vector.empty)
        state = state.copy(
          columns = state.columns :+
            ColumnRow(cid, snap, None, t.tableId, order, name,
              canon, nullsAllowed = !d.notNull),
          columnTags = state.columnTags ++ newTags)
        newSnapshot(cid + 1, state.nextFileId)
      case StatementRouter.DropColumn(name) =>
        val cols = state.columnsOf(t.tableId)
        val c = cols.find(_.columnName.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(s"no such column: $name"))
        require(cols.size > 1, s"cannot drop the last column of ${s.table}")
        require(!state.partitionColumnsOf(t.tableId).exists(_.columnId == c.columnId),
          s"cannot drop partition column: $name")
        state = state.copy(columns = state.columns.map(x =>
          if (x.columnId == c.columnId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x))
        newSnapshot(state.nextCatalogId, state.nextFileId)
      case StatementRouter.RenameColumn(oldName, newName) =>
        // metadata-only: same columnId, new name from this snapshot on.
        // Old files keep the old PHYSICAL field name; scans resolve it per
        // file via [[physGroups]], and stats/partition values are
        // columnId-keyed, so pruning survives the rename.
        val cols = state.columnsOf(t.tableId)
        val c = cols.find(_.columnName.equalsIgnoreCase(oldName)).getOrElse(
          throw new IllegalArgumentException(s"no such column: $oldName"))
        require(!cols.exists(_.columnName.equalsIgnoreCase(newName)),
          s"column exists: $newName")
        state = state.copy(columns = state.columns.map(x =>
          if (x.columnId == c.columnId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x)
          :+ c.copy(beginSnapshot = snap, endSnapshot = None, columnName = newName))
        newSnapshot(state.nextCatalogId, state.nextFileId)
      case StatementRouter.SetColumnDefault(colName, exprOpt) =>
        val c = state.columnsOf(t.tableId)
          .find(_.columnName.equalsIgnoreCase(colName)).getOrElse(
            throw new IllegalArgumentException(s"no such column: $colName"))
        exprOpt.foreach(e => dexpr(e)) // validate the expression early
        // end any live default tag; begin the new one (metadata-only)
        val ended = state.columnTags.map(x =>
          if (x.tableId == t.tableId && x.columnId == c.columnId &&
              x.key == "default" && x.endSnapshot.isEmpty)
            x.copy(endSnapshot = Some(snap)) else x)
        state = state.copy(columnTags = ended ++
          exprOpt.map(e => ColumnTagRow(t.tableId, c.columnId, snap, None, "default", e)).toVector)
        newSnapshot(state.nextCatalogId, state.nextFileId)
      case StatementRouter.SetColumnNotNull(colName, notNull) =>
        val c = state.columnsOf(t.tableId)
          .find(_.columnName.equalsIgnoreCase(colName)).getOrElse(
            throw new IllegalArgumentException(s"no such column: $colName"))
        if (notNull) {
          // DuckDB validates existing rows before accepting SET NOT NULL:
          // one aggregate job over the live scan (pushed-down null check)
          val files = state.filesOf(t.tableId)
          if (files.nonEmpty) {
            val live = readFiles(t, files)
            val nulls = live.filter(colq(live, c.columnName).isNull).limit(1).count()
            require(nulls == 0L,
              s"SET NOT NULL on ${s.table}.$colName: existing rows contain NULL")
          }
        }
        state = state.copy(columns = state.columns.map(x =>
          if (x.columnId == c.columnId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x)
          :+ c.copy(beginSnapshot = snap, endSnapshot = None, nullsAllowed = !notNull))
        newSnapshot(state.nextCatalogId, state.nextFileId)
      case StatementRouter.AlterColumnType(colName, sqlType) =>
        // type WIDENING, metadata-only: same columnId, new column_type
        // lifetime. Old files keep their physical type; scans read them
        // under it and cast up per epoch group ([[physGroups]]); stats
        // stay columnId-keyed strings, which compare numerically in the
        // FileIndex, so pruning survives the widen too.
        val dtNew = CatalogSchema.parseType(sqlType)
        val cols = state.columnsOf(t.tableId)
        val c = cols.find(_.columnName.equalsIgnoreCase(colName)).getOrElse(
          throw new IllegalArgumentException(s"no such column: $colName"))
        val dtOld = CatalogSchema.parseType(c.columnType)
        require(CatalogSchema.widens(dtOld, dtNew),
          s"cannot alter $colName from ${c.columnType} to $sqlType: " +
          "only widening promotions are supported (no data rewrite)")
        require(!state.partitionColumnsOf(t.tableId).exists(_.columnId == c.columnId),
          s"cannot alter type of partition column: $colName")
        state = state.copy(columns = state.columns.map(x =>
          if (x.columnId == c.columnId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x)
          :+ c.copy(beginSnapshot = snap, endSnapshot = None,
            columnType = CatalogSchema.canonicalTypeName(sqlType)))
        newSnapshot(state.nextCatalogId, state.nextFileId)
      case StatementRouter.SetPartitionedBy(colNames) =>
        // DuckLake partition-spec DDL: metadata-only. Ends any live spec,
        // begins a new one; files written from now on are split
        // one-partition-value-per-file and carry
        // ducklake_file_partition_value rows; existing files are untouched
        // (their pruning keeps working through min/max stats).
        val cols = state.columnsOf(t.tableId)
        val keyCols = colNames.map(n => cols.find(_.columnName.equalsIgnoreCase(n))
          .getOrElse(throw new IllegalArgumentException(s"no such column: $n")))
        val pid = state.nextCatalogId
        val ended = state.partitionInfo.map(p =>
          if (p.tableId == t.tableId && p.endSnapshot.isEmpty) p.copy(endSnapshot = Some(snap)) else p)
        state = state.copy(
          partitionInfo = ended :+ PartitionInfoRow(pid, t.tableId, snap, None),
          partitionColumns = state.partitionColumns ++
            keyCols.zipWithIndex.map { case (c, i) =>
              PartitionColumnRow(pid, t.tableId, i, c.columnId)
            })
        newSnapshot(pid + 1, state.nextFileId)
    }
  }

  /** `COPY <table|(query)> TO 'path'` — single-file export like DuckDB's
    * COPY (driver-side coalesce(1): the pass-through writes ONE file at
    * the given path; a distributed export would drop the coalesce and
    * write a directory)
    */
  private def executeCopy(s: StatementRouter.CopyTo): Unit = {
    // reader-only options on the WRITER refuse with DuckDB's own words
    // (measured r17)
    if (s.writerOptions.get("nullValue").exists(_.trim.startsWith("[")))
      throw new IllegalArgumentException(
        "CSV Writer function option nullstr only accepts one nullstr value.")
    require(!s.writerOptions.contains("__graft_force_not_null"),
      "FORCE_NOT_NULL is a COPY ... FROM (read) option")
    val inner =
      if (s.source.startsWith("(")) s.source.stripPrefix("(").stripSuffix(")")
      else s"SELECT * FROM ${s.source}"
    val df = sqlSelect((inner))
    val fmt = s.format.getOrElse {
      val p = s.path.toLowerCase
      if (p.endsWith(".csv")) "csv"
      else if (p.endsWith(".json") || p.endsWith(".jsonl")) "json"
      else "parquet"
    }
    if (s.partitionBy.nonEmpty) {
      // PARTITION_BY: hive-layout directory export (path/a=x/b=y/*) —
      // the 100 TB shape: the write stays fully distributed (one file
      // per task per partition value, NO coalesce-to-one funnel), and a
      // read of the directory recovers the partition columns. This is
      // the one COPY form whose output is a directory, like DuckDB's.
      val missing = s.partitionBy.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"PARTITION_BY names unknown column(s): ${missing.mkString(", ")}")
      // DuckDB errors on an existing non-empty target directory unless
      // OVERWRITE[_OR_IGNORE] is given; mode("overwrite") here would
      // recursively DELETE whatever a mistyped path points at instead
      val dest0 = Paths.get(s.path)
      if (!s.overwrite && Files.isDirectory(dest0)) {
        val ls = Files.list(dest0) // close: a leaked dir stream is an fd
        val nonEmpty = try ls.iterator().hasNext finally ls.close()
        if (nonEmpty) throw new IllegalStateException(
          s"COPY target directory not empty: ${s.path} " +
          "(add OVERWRITE_OR_IGNORE to replace it)")
      }
      val wp = df.write.mode("overwrite").options(s.writerOptions)
        .partitionBy(s.partitionBy: _*)
      fmt match {
        case "csv"  =>
          if (!s.writerOptions.contains("header")) wp.option("header", "true")
          // Spark's CSV WRITER trims cell padding by default; DuckDB
          // preserves it (r15 csvio barrage: '  padded  ' round-trip)
          wp.option("ignoreLeadingWhiteSpace", "false")
          wp.option("ignoreTrailingWhiteSpace", "false")
          wp.csv(s.path)
        case "json" => wp.json(s.path)
        case _      => wp.parquet(s.path)
      }
      return
    }
    val tmp = Files.createTempDirectory(Paths.get(dataPath), ".copy")
    val w = df.coalesce(1).write.mode("overwrite").options(s.writerOptions)
    fmt match {
      case "csv" if s.writerOptions.get("quote").contains("") =>
        // DuckDB `QUOTE ''` disables quoting ENTIRELY: fields join with
        // the delimiter and embedded newlines/delimiters pass through
        // raw. Spark's univocity writer cannot disable quoting (it
        // substitutes the NUL char as the quote char and wraps the field in
        // NUL bytes — measured, r17), so raw mode renders each record
        // to one line (values via cast-to-string, NULL as nullValue)
        // and writes TEXT.
        val sep = s.writerOptions.getOrElse("sep", ",")
        val nullv = s.writerOptions.getOrElse("nullValue", "")
        val header = s.writerOptions.get("header").forall(_ == "true")
        val enc = org.apache.spark.sql.Encoders.STRING
        val rendered = df.select(concat_ws(sep, df.columns.map(c =>
            coalesce(df(c).cast(StringType), lit(nullv))).toSeq: _*))
          .map(_.getString(0))(enc)
          .coalesce(1)
        val withH =
          if (header) {
            val h = df.columns.mkString(sep)
            rendered.mapPartitions(it => Iterator(h) ++ it)(enc)
          } else rendered
        withH.write.mode("overwrite").text(tmp.toString)
      case "csv"  =>
        if (!s.writerOptions.contains("header")) w.option("header", "true")
        // preserve padding — see the partitioned branch (r15 csvio)
        w.option("ignoreLeadingWhiteSpace", "false")
        w.option("ignoreTrailingWhiteSpace", "false")
        w.csv(tmp.toString)
      case "json" => w.json(tmp.toString)
      case _      => w.parquet(tmp.toString)
    }
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).getOrElse(
        throw new IllegalStateException("COPY produced no output file"))
    val dest = Paths.get(s.path)
    if (dest.getParent != null) Files.createDirectories(dest.getParent)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private val CountStarRe =
    """(?is)^\s*SELECT\s+count\s*\(\s*\*\s*\)\s*(?:AS\s+("?\w+"?)\s*)?FROM\s+([\w\.\"]+)\s*;?\s*$""".r

  /** Metadata-only `SELECT count(*) FROM <lake table>`: the catalog
    * already holds exact per-file record counts (plus one row per
    * inlined record), so a bare count answers from the METADATA PLANE —
    * zero Spark jobs, zero bytes scanned. At 100 TB this is the
    * difference between an instant answer and a full-corpus scan, and it
    * is exactly what the reference's engine does with its own
    * ducklake_data_file counts. Bails to the real scan (returns None)
    * for anything but the bare shape — predicates, grouping, aliases on
    * the table, time travel, a TEMP table shadowing the name — and for
    * tables with live merge-on-read positional deletes (foreign-written
    * delete files), where deletion overlap makes the arithmetic unsafe.
    * The column is named exactly as the scan path would name it, so the
    * shortcut is indistinguishable.
    */
  private def metadataCountStar(q: String): Option[DataFrame] = q match {
    case CountStarRe(alias, name) if !isTempTable(name.replace("\"", "")) =>
      resolveTable(name.replace("\"", "")).flatMap { t =>
        if (state.positionalDeletes(t.tableId).nonEmpty) None
        else {
          val n = state.filesOf(t.tableId).map(_.recordCount).sum +
            state.inlinedOf(t.tableId).size
          val colName = Option(alias).map(_.stripPrefix("\"").stripSuffix("\""))
            .getOrElse("count(1)")
          Some(spark.createDataFrame(
            Seq(Row(n)).asJava,
            StructType(Seq(StructField(colName, LongType, nullable = false)))))
        }
      }
    case _ => None
  }

  /** `EXPORT DATABASE 'dir' [(FORMAT fmt)]` — DuckDB's whole-lake backup
    * shape: `schema.sql` (CREATE TABLE per live table), `load.sql` (COPY
    * FROM per table), one data file per table. Format defaults to csv
    * like the engine the reference passes through to. Each table export
    * is a [[executeCopy]] — a distributed scan funneled to one file (the
    * per-table backup contract); a 100 TB lake would export per-table
    * directories instead, but the statement surface is the same.
    */
  private def executeExportDb(s: StatementRouter.ExportDb): Unit = {
    val fmt = s.format.getOrElse("csv")
    require(Seq("csv", "parquet", "json").contains(fmt), s"EXPORT FORMAT: $fmt")
    val dir = Paths.get(s.path)
    Files.createDirectories(dir)
    val tables = state.liveTables().sortBy(_.tableName)
    val schemaSql = new StringBuilder
    val loadSql = new StringBuilder
    tables.foreach { t =>
      val schema = state.schemaOf(t.tableId)
      val cols = schema.fields
        .map(f => s"${f.name} ${CatalogSchema.typeName(f.dataType)}")
        .mkString(", ")
      schemaSql.append(s"CREATE TABLE ${t.tableName}($cols);\n")
      val out = dir.resolve(s"${t.tableName}.$fmt")
      executeCopy(StatementRouter.CopyTo(t.tableName, out.toString, Some(fmt)))
      loadSql.append(s"COPY ${t.tableName} FROM '$out' (FORMAT '$fmt');\n")
    }
    Files.write(dir.resolve("schema.sql"),
      schemaSql.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(dir.resolve("load.sql"),
      loadSql.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** `IMPORT DATABASE 'dir'` — replays an export's schema.sql + load.sql
    * through the normal create/ingest paths (so imported tables get data
    * files, stats, and snapshots like any other write). Routed per
    * statement WITHOUT re-entering [[sql]]: this runs inside the caller's
    * pull→push bracket, and a nested bracket would double-push.
    */
  private def executeImportDb(s: StatementRouter.ImportDb): Unit = {
    val dir = Paths.get(s.path)
    require(Files.isDirectory(dir), s"no such export directory: ${s.path}")
    val schemaF = dir.resolve("schema.sql")
    require(Files.exists(schemaF), s"not an exported database (no schema.sql): ${s.path}")
    Seq(schemaF, dir.resolve("load.sql")).filter(Files.exists(_)).foreach { f =>
      val body = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      StatementRouter.split(body).foreach { st =>
        StatementRouter.classify(st) match {
          case c: StatementRouter.CreateTable => executeCreate(c)
          case c: StatementRouter.CopyFrom    => executeCopyFrom(c)
          case StatementRouter.NoOp | StatementRouter.Begin |
               StatementRouter.Commit =>
          case _ => throw new IllegalArgumentException(
            s"unsupported statement in exported script: ${st.take(80)}")
        }
      }
    }
  }

  /** `COPY t FROM 'path'` — distributed ingestion: the file(s) read with
    * the table's declared schema, appended through the normal insert path
    * (file-per-writer parquet + stats + snapshot)
    */
  private def executeCopyFrom(s: StatementRouter.CopyFrom): Unit = {
    val t = requireTable(s.table)
    val schema = state.schemaOf(t.tableId)
    val fmt = s.format.getOrElse {
      val p = s.path.toLowerCase
      if (p.endsWith(".csv")) "csv"
      else if (p.endsWith(".json") || p.endsWith(".jsonl")) "json"
      else "parquet"
    }
    val nullstrs = s.readerOptions.get("nullValue").map(optStrList)
      .getOrElse(Seq(""))
    val force = s.readerOptions.get("__graft_force_not_null")
      .map(v => StatementRouter.splitTopCommas(v)
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
      .getOrElse(Nil).toSet
    val plainOpts = s.readerOptions - "__graft_force_not_null"
    // a SINGLE-element NULLSTR ['NA'] is still bracket syntax: the plain
    // path would hand Spark the raw "['NA']" text as nullValue (so 'NA'
    // fields load as the literal string) — any bracketed list takes the
    // when()-clean branch regardless of its length (r18, ADVICE r17)
    val bracketNull =
      s.readerOptions.get("nullValue").exists(_.trim.startsWith("["))
    val df = fmt match {
      case "csv" if nullstrs.lengthIs > 1 || bracketNull || force.nonEmpty =>
        // NULLSTR lists / FORCE_NOT_NULL need the when()-based
        // null-clean (same measured semantics as read_csv's r17 path:
        // any list member nulls, force columns read the match as '');
        // the declared table schema supplies the types, so the clean
        // happens on an all-VARCHAR read then casts per column
        val strSchema = StructType(schema.fields.map(f =>
          StructField(f.name, StringType, nullable = true)))
        var r = spark.read.schema(strSchema).option("header", "true")
        r = r.options(plainOpts - "nullValue")
        r = r.option("nullValue", "")
        val raw = r.csv(s.path)
        raw.select(schema.fields.map { f =>
          val base = raw(f.name)
          val hit = base.isin(nullstrs.map(_.asInstanceOf[Any]): _*)
          val cleaned =
            if (force.contains(f.name))
              when(hit || (base.isNull && lit(nullstrs.contains(""))), lit(""))
                .otherwise(base)
            else when(hit, lit(null)).otherwise(base)
          cleaned.cast(f.dataType).as(f.name)
        }.toSeq: _*)
      case "csv"  =>
        var r = spark.read.schema(schema).option("header", "true")
        // same whitelist-parsed option names as COPY TO (sep/quote/
        // escape/nullValue/header/compression/date formats), applied to
        // the reader — (DELIMITER '|', HEADER false) must shape the READ
        // exactly as it shaped the write, or a round-trip corrupts
        r = r.options(plainOpts)
        r.csv(s.path)
      case "json" => spark.read.schema(schema)
        .options(s.readerOptions).json(s.path)
      case _      => spark.read.schema(schema).parquet(s.path)
    }
    executeInsertDF(s.table, None, df)
  }

  private def executeDrop(s: StatementRouter.DropTable): Unit = {
    resolveTable(s.name) match {
      case None =>
        if (!s.ifExists) throw new IllegalArgumentException(s"no such table: ${s.name}")
      case Some(t) =>
        val snap = state.currentSnapshot + 1
        state = state.copy(
          tables = state.tables.map(x =>
            if (x.tableId == t.tableId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x),
          columns = state.columns.map(x =>
            if (x.tableId == t.tableId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x),
          dataFiles = state.dataFiles.map(x =>
            if (x.tableId == t.tableId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x),
          inlinedData = state.inlinedData.map(x =>
            if (x.tableId == t.tableId && x.endSnapshot.isEmpty) x.copy(endSnapshot = Some(snap)) else x))
        newSnapshot(state.nextCatalogId, state.nextFileId)
    }
  }

  /** Maintenance: merge the small-file tail of `table` into ~targetBytes
    * files under a new snapshot. Rows are bit-identical; old files are
    * end-snapshotted so time travel still resolves them. Cost is
    * proportional to the small tail, never table size — files at or above
    * the target are not read at all. This is the upkeep a 1000-executor
    * INSERT stream needs: each micro-append lands one file per writer, and
    * unchecked that tail turns every scan into a file-listing storm.
    * Partitioned tables: merged files may span partition values, so they
    * carry no `ducklake_file_partition_value` rows — partition pruning for
    * them falls back to the (still-recorded) min/max column stats.
    */
  def compact(table: String, targetBytes: Long = 128L << 20,
      sortBy: Seq[String] = Nil): Unit = withCatalogSync {
    val t = requireTable(table)
    // the flushes commit on their own: with nothing left to merge below,
    // the bracket still pushes them
    flushInlined(t)
    flushForeignDeletes(t)
    val schema = state.schemaOf(t.tableId)
    if (sortBy.nonEmpty) compactSorted(t, targetBytes, sortBy, schema)
    else {
      // sequential bin-pack of the small tail into ~targetBytes groups
      val groups = scala.collection.mutable.ArrayBuffer[Vector[DataFileRow]]()
      var cur = Vector.empty[DataFileRow]
      var curSz = 0L
      state.filesOf(t.tableId).filter(_.fileSizeBytes < targetBytes).foreach { f =>
        if (cur.nonEmpty && curSz + f.fileSizeBytes > targetBytes) {
          groups += cur; cur = Vector.empty; curSz = 0L
        }
        cur :+= f
        curSz += f.fileSizeBytes
      }
      if (cur.nonEmpty) groups += cur
      val toMerge = groups.filter(_.size >= 2).toSeq
      if (toMerge.nonEmpty) compactGroups(t, toMerge, schema)
    }
  }

  /** ONE rewrite job merging each bin-packed group into one file */
  private def compactGroups(t: TableRow, toMerge: Seq[Vector[DataFileRow]],
      schema: StructType): Unit = {
    val snap = state.currentSnapshot + 1
    val fid = state.nextFileId
    // ONE rewrite job for ALL groups (the per-group-job version was the
    // DELETE loop's disease in miniature: 1000s of driver-sequential jobs
    // at a 100k-file tail): tag each row with its bin-pack group via a
    // broadcast path->group join, repartition BY GROUP (all rows of a
    // group land in one task), and write partitionBy(group) — exactly one
    // parquet file per group subdir, moved to stable names afterwards.
    val grpRows = toMerge.zipWithIndex.flatMap { case (g, i) =>
      g.map(f => Row(normUri(f.path), i))
    }
    val grpDF = spark.createDataFrame(grpRows.asJava, StructType(Seq(
      StructField("__src", StringType, false),
      StructField("__grp", IntegerType, false))))
    val mergeIds = toMerge.flatten.map(_.dataFileId).toSet
    // input_file_name yields URI-ENCODED file: URIs; catalog paths are
    // plain. Decode with the same java.net.URI rule as normUri (a bare
    // prefix-strip silently drops every row of a path containing a space,
    // '%', or non-ASCII char from the join — data loss). The lambda is
    // self-contained so the UDF closure never captures `this`.
    val decodeUri = udf { p: String =>
      if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    }
    val src = readFiles(t, toMerge.flatten.toSeq)
      .withColumn("__src", decodeUri(input_file_name()))
    val tagged = src.join(broadcast(grpDF), "__src").drop("__src")
    val tmp = Files.createTempDirectory(Paths.get(dataPath), s".compact_${t.tableName}")
    withoutAQE {
      tagged.repartition(col("__grp"))
        .write.partitionBy("__grp").mode("overwrite").parquet(tmp.toString)
    }
    commitCompactOutputs(t, snap, fid, tmp, mergeIds,
      toMerge.flatten.map(_.recordCount).sum, schema)
  }

  /** Clustering compaction: rewrite ALL live files range-partitioned and
    * sorted by `sortBy` into ~targetBytes files with DISJOINT sort-key
    * ranges, so the per-file min/max stats pruning skips every file
    * outside a predicate's range — the OPTIMIZE/cluster layout step a
    * selective 100 TB scan needs. ONE range-shuffle rewrite job
    * regardless of file count (range boundaries from Spark's sampling
    * partitioner); stats re-derive in the shared append pass; same
    * all-rows-survive check before the snapshot commits.
    */
  private def compactSorted(t: TableRow, targetBytes: Long,
      sortBy: Seq[String], schema: StructType): Unit = {
    val live = state.filesOf(t.tableId)
    if (live.isEmpty) return
    val missing = sortBy.filterNot(c =>
      state.columnsOf(t.tableId).exists(_.columnName == c))
    require(missing.isEmpty,
      s"compact sortBy: no such column(s): ${missing.mkString(", ")}")
    val totalBytes = live.map(_.fileSizeBytes).sum
    val nGroups = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val snap = state.currentSnapshot + 1
    val fid = state.nextFileId
    val src = readFiles(t, live.toSeq)
    val tmp = Files.createTempDirectory(Paths.get(dataPath), s".compact_${t.tableName}")
    withoutAQE {
      src.repartitionByRange(nGroups, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
        .withColumn("__grp", spark_partition_id())
        .write.partitionBy("__grp").mode("overwrite").parquet(tmp.toString)
    }
    commitCompactOutputs(t, snap, fid, tmp, live.map(_.dataFileId).toSet,
      live.map(_.recordCount).sum, schema)
  }

  /** shared compact tail: move the __grp=* outputs to stable names, end
    * the merged files' lifetimes, derive stats, verify every input row
    * survived, commit the snapshot (compact's bracket pushes it)
    */
  private def commitCompactOutputs(t: TableRow, snap: Long, fid: Long,
      tmp: java.nio.file.Path, mergeIds: Set[Long], mergedCnt: Long,
      schema: StructType): Unit = {
    val dir = Paths.get(dataPath, tableDirName(t))
    Files.createDirectories(dir)
    val written = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("__grp=")).toSeq
      .sortBy(_.getFileName.toString)
      .flatMap(g => Files.list(g).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") &&
                     p.getFileName.toString.endsWith(".parquet")))
      .zipWithIndex.map { case (p, i) =>
        val dest = dir.resolve(s"data_${UUID.randomUUID().toString.take(8)}_c$i.parquet")
        Files.move(p, dest, StandardCopyOption.REPLACE_EXISTING)
        dest
      }
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    val ended = state.copy(dataFiles = state.dataFiles.map(d =>
      if (mergeIds.contains(d.dataFileId) && d.endSnapshot.isEmpty) d.copy(endSnapshot = Some(snap)) else d))
    // stats of every merged output, from its footer
    val (ns2a, fid2) = appendWrittenFiles(ended, t, snap, fid, written, schema)
    val ns2 = ns2a.copy(snapshotChanges = ns2a.snapshotChanges :+
      SnapshotChangeRow(snap, s"compacted_table:${t.tableName}"))
    // before committing the snapshot: every input row must have survived
    // the rewrite (the footers already counted the outputs, so this
    // check is free) — a silent drop here would be silent data loss
    val writtenCnt = ns2.dataFiles
      .filter(d => d.tableId == t.tableId && d.beginSnapshot == snap)
      .map(_.recordCount).sum
    if (writtenCnt != mergedCnt) {
      written.foreach(Files.deleteIfExists(_))
      throw new IllegalStateException(
        s"compact aborted: merged files hold $mergedCnt rows but rewrite produced $writtenCnt")
    }
    state = ns2
    newSnapshot(state.nextCatalogId, fid2)
  }

  /** Register EXISTING parquet files into `table` WITHOUT rewriting them
    * — DuckLake's add_data_files flow, the write side of the
    * column-mapping support (`ducklake_column_mapping` type
    * 'map_by_name'). Resolution is by NAME, like DuckDB's: a file field
    * whose case-insensitive name matches a catalog column feeds it 1:1;
    * a catalog column matching a `key=value` segment of the file's path
    * becomes a hive_partition mapping entry (its value materializes from
    * the path at scan time); any other catalog column reads NULL. Files
    * sharing one resolution shape share one mapping id. Per-file stats
    * come from [[FileStats]], as on the INSERT path, so stats pruning works
    * on registered files too. Cost is one driver-side footer read per file,
    * which gives both the field names and the stats; only files whose
    * footers cannot answer exactly go to a batch-bounded stats job per
    * shape. No data is copied, which is the point at 100 TB: registering
    * an existing lake is a metadata operation.
    */
  def addDataFiles(table: String, paths: Seq[String]): Unit = withCatalogSync {
    val t = requireTable(table)
    flushInlined(t)
    val cols = state.columnsOf(t.tableId)
    require(paths.nonEmpty, "addDataFiles: no paths given")
    paths.foreach(p => require(Files.isRegularFile(Paths.get(p)),
      s"addDataFiles: not a file: $p"))
    val hiveRe = "([^/=]+)=([^/]+)".r
    // resolve each file's shape: fields from the parquet footer, hive
    // keys from the path; files sharing a shape share one mapping id
    case class Shape(fieldByCol: Map[Long, String], hiveByCol: Map[Long, String])
    val footers = FileStats.readFooters(paths)
    val shaped: Seq[(String, Shape)] = paths.map { p =>
      val fLower = FileStats.fieldNames(footers(p))
        .map(f => f.toLowerCase -> f).toMap
      val hiveByLower = hiveRe.findAllMatchIn(p)
        .map(m => m.group(1).toLowerCase -> m.group(1)).toMap
      val fieldByCol = cols.flatMap(c =>
        fLower.get(c.columnName.toLowerCase).map(c.columnId -> _)).toMap
      val hiveByCol = cols
        .filterNot(c => fieldByCol.contains(c.columnId))
        .flatMap(c => hiveByLower.get(c.columnName.toLowerCase)
          .map(c.columnId -> _)).toMap
      require(fieldByCol.nonEmpty,
        s"addDataFiles: no field of $p matches any column of $table " +
          s"(file has: ${fLower.values.mkString(", ")})")
      p -> Shape(fieldByCol, hiveByCol)
    }
    val snap = state.currentSnapshot + 1
    var fid = state.nextFileId
    var nextId = state.nextCatalogId
    var ns = state
    shaped.groupBy(_._2).toSeq
      .sortBy(_._2.head._1).foreach { case (shape, members) =>
      val gpaths = members.map(_._1)
      val mid = nextId
      nextId += 1
      ns = ns.copy(
        columnMappings = ns.columnMappings :+
          ColumnMappingRow(mid, t.tableId, "map_by_name"),
        nameMappings = ns.nameMappings ++
          cols.flatMap(c => shape.fieldByCol.get(c.columnId).map(fn =>
            NameMappingRow(mid, c.columnId, fn, c.columnName, hivePartition = false))) ++
          cols.flatMap(c => shape.hiveByCol.get(c.columnId).map(hk =>
            NameMappingRow(mid, c.columnId, hk, c.columnName, hivePartition = true))))
      // stats under the files' own field names, keyed back by columnId
      val physCols = cols.flatMap(c => shape.fieldByCol.get(c.columnId)
        .map(fn => c.copy(columnName = fn)))
      val readSchema = StructType(physCols.map(pc =>
        StructField(pc.columnName, CatalogSchema.parseType(pc.columnType), true)))
      val statsByPath = FileStats.collect(spark, gpaths, readSchema, physCols, footers)
      gpaths.foreach { p =>
        val (cnt, st) = statsByPath(p)
        ns = ns.copy(
          dataFiles = ns.dataFiles :+ DataFileRow(fid, t.tableId, snap, None,
            p, cnt, Files.size(Paths.get(p)), Some(mid)),
          fileColumnStats = ns.fileColumnStats ++ physCols.map { c =>
            val (mn, mx, nl) = st(c.columnId)
            FileColumnStatsRow(fid, t.tableId, c.columnId, mn, mx, nl)
          })
        fid += 1
      }
    }
    val added = ns.dataFiles
      .filter(d => d.tableId == t.tableId && d.beginSnapshot == snap)
      .map(_.recordCount).sum
    state = ns.copy(snapshotChanges = ns.snapshotChanges :+
      SnapshotChangeRow(snap, s"added_data_files:${t.tableName}"))
    state = state.copy(tableStats = bumpStats(t.tableId, added))
    newSnapshot(nextId, fid)
  }

  /** Retention maintenance (DuckLake `expire_snapshots`): drop time travel
    * to snapshots with id < `keepFrom`, and move every data file whose
    * lifetime ended at or before that horizon to
    * `ducklake_files_scheduled_for_deletion` — no surviving snapshot can
    * reach it. Metadata-only, zero Spark jobs; the physical delete is
    * [[vacuum]] (two-phase, so a crash between the two never loses live
    * data — the worst case is an orphan file still on disk).
    */
  def expireSnapshots(keepFrom: Long): Unit = withCatalogSync {
    require(keepFrom <= state.currentSnapshot,
      s"keepFrom $keepFrom is beyond the current snapshot ${state.currentSnapshot}")
    val now = tsFmt.format(Instant.now().truncatedTo(ChronoUnit.SECONDS))
    val (dead, _) = state.dataFiles.partition(_.endSnapshot.exists(_ <= keepFrom))
    val deadIds = dead.map(_.dataFileId).toSet
    state = state.copy(
      snapshots = state.snapshots.filter(_.snapshotId >= keepFrom),
      snapshotChanges = state.snapshotChanges.filter(_.snapshotId >= keepFrom),
      dataFiles = state.dataFiles.filterNot(f => deadIds(f.dataFileId)),
      fileColumnStats = state.fileColumnStats.filterNot(s => deadIds(s.dataFileId)),
      filePartitionValues = state.filePartitionValues.filterNot(v => deadIds(v.dataFileId)),
      deleteFiles = state.deleteFiles.filterNot(d => deadIds(d.dataFileId)),
      inlinedData = state.inlinedData.filterNot(_.endSnapshot.exists(_ <= keepFrom)),
      scheduledDeletes = state.scheduledDeletes ++ dead.map(f =>
        ScheduledDeleteRow(f.dataFileId, f.tableId, f.path, now)))
  }

  /** physically delete every scheduled file and clear the sheet; returns
    * how many files were removed
    */
  def vacuum(): Int = withCatalogSync(vacuumLocal())

  /** the physical-delete core over the CURRENT in-memory state, no sync —
    * the `VACUUM` statement arm runs inside sqlOnce's pull→…→push bracket,
    * where a nested pull() would DISCARD the script's uncommitted earlier
    * statements (and a nested push would commit half a script)
    */
  private def vacuumLocal(): Int = {
    val n = state.scheduledDeletes.size
    state.scheduledDeletes.foreach(s => Files.deleteIfExists(Paths.get(s.path)))
    state = state.copy(scheduledDeletes = Vector.empty)
    n
  }

  private def bumpStats(tableId: Long, delta: Long): Vector[TableStatsRow] =
    if (state.tableStats.exists(_.tableId == tableId))
      state.tableStats.map(s =>
        if (s.tableId == tableId) s.copy(recordCount = s.recordCount + delta) else s)
    else state.tableStats :+ TableStatsRow(tableId, delta)

  /** write df to a tmp dir, move each part file to a stable name under
    * dataPath/<table>/; returns the final paths (empty for 0-row df)
    */
  /** on-disk directory for a table's data files. Schema-qualified for
    * non-main schemas (r5 advice): `main.sx` and `staging.sx` must NOT
    * share `dataPath/sx/` — tableStream reads the whole directory and
    * would silently ingest the sibling schema's files.
    */
  private def tableDirName(t: TableRow): String = {
    val s = schemaNameOf(t)
    if (s.equalsIgnoreCase("main")) t.tableName else s"$s/${t.tableName}"
  }

  private def writeParquetFiles(df: DataFrame, t: TableRow): Seq[Path] = {
    val tmp = Files.createTempDirectory(Paths.get(dataPath), s".write_${t.tableName}")
    df.write.mode("overwrite").parquet(tmp.toString)
    val parts = Files.list(tmp).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") &&
                   p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    val dir = Paths.get(dataPath, tableDirName(t))
    Files.createDirectories(dir)
    val moved = parts.zipWithIndex.map { case (p, i) =>
      val dest = dir.resolve(s"data_${UUID.randomUUID().toString.take(8)}_$i.parquet")
      Files.move(p, dest, StandardCopyOption.REPLACE_EXISTING)
      dest
    }
    // clean the tmp dir (crc/_SUCCESS leftovers)
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    moved
  }

  /** partitioned append: one parquet file (set) per partition VALUE, via a
    * shadow-column `partitionBy` — the data columns stay IN the files
    * (DuckLake data files are self-contained; partition values are catalog
    * metadata, `ducklake_file_partition_value`), the hive dir layout only
    * drives the per-value file split and is flattened away by the move.
    * Returns each final path with its partition values by key index.
    * Distributed: every writer task lands its own file per value it holds.
    */
  private def writeParquetFilesPartitioned(df: DataFrame, t: TableRow,
      partCols: Seq[String]): Seq[(Path, Seq[Option[String]])] = {
    val shadow = partCols.indices.map(i => s"__p$i")
    val w = partCols.zip(shadow).foldLeft(df) { case (d, (c, s)) =>
      d.withColumn(s, colq(d, c).cast(StringType))
    }
    val tmp = Files.createTempDirectory(Paths.get(dataPath), s".write_${t.tableName}")
    w.write.mode("overwrite").partitionBy(shadow: _*).parquet(tmp.toString)
    def valueOf(dirName: String): Option[String] = {
      val v = dirName.substring(dirName.indexOf('=') + 1)
      if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(unescapePathName(v))
    }
    def walk(p: Path, vals: Seq[Option[String]], depth: Int): Seq[(Path, Seq[Option[String]])] =
      if (depth == shadow.length)
        Files.list(p).iterator().asScala
          .filter(f => f.getFileName.toString.startsWith("part-") &&
            f.getFileName.toString.endsWith(".parquet")).toSeq
          .sortBy(_.getFileName.toString).map(f => (f, vals))
      else
        Files.list(p).iterator().asScala
          .filter(d => Files.isDirectory(d) &&
            d.getFileName.toString.startsWith(s"__p$depth=")).toSeq
          .sortBy(_.getFileName.toString)
          .flatMap(d => walk(d, vals :+ valueOf(d.getFileName.toString), depth + 1))
    val dir = Paths.get(dataPath, tableDirName(t))
    Files.createDirectories(dir)
    val moved = walk(tmp, Seq.empty, 0).zipWithIndex.map { case ((p, vals), i) =>
      val dest = dir.resolve(s"data_${UUID.randomUUID().toString.take(8)}_$i.parquet")
      Files.move(p, dest, StandardCopyOption.REPLACE_EXISTING)
      (dest, vals)
    }
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    moved
  }

  /** undo the hive-style %xx escaping partitioned writers apply to
    * special characters in partition dir names
    */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def colq(df: DataFrame, name: String) = df(s"`$name`")

  /** backtick-quote a column name for synthesized SQL when it is not a
    * plain identifier (quoted names may carry spaces/specials — r14) */
  private def sqlq(n: String): String =
    if (n.nonEmpty && (n.head.isLetter || n.head == '_') &&
        n.forall(c => c.isLetterOrDigit || c == '_')) n
    else "`" + n.replace("`", "``") + "`"
}

/** static SQL-rewrite patterns (companion, so they exist before the
  * constructor's `initialize()` replays persisted views through
  * [[DuckLakeXLSpark.rewriteSelect]])
  */
object DuckLakeXLSpark {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[DuckLakeXLSpark])

  /** JVM-global sequence for direct-file-query temp-view names — see
    * registerFileRead's uniqueness note
    */
  private[api] val fileViewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** `input_file_name`/`_metadata.file_path` yield (possibly URI-encoded)
    * `file:` URIs; catalog paths are plain — decode with the same
    * java.net.URI rule as `normUri`. Companion-scoped so the UDF closure
    * can never capture a lake instance.
    */
  private[graft] val DecodeUri = org.apache.spark.sql.functions.udf { p: String =>
    if (p == null) null
    else if (p.startsWith("file:")) new java.net.URI(p).getPath
    else p
  }

  private val VersionAtRe =
    """(?i)\b((?:\w+\.)*\w+)\s+AT\s*\(\s*VERSION\s*=>\s*(\d+)\s*\)""".r
  private val VersionAsOfRe = """(?i)\b((?:\w+\.)*\w+)\s+VERSION\s+AS\s+OF\s+(\d+)""".r
  private val TimestampAtRe =
    """(?i)\b((?:\w+\.)*\w+)\s+AT\s*\(\s*TIMESTAMP\s*=>\s*'([^']+)'\s*\)""".r
  private val TimestampAsOfRe =
    """(?i)\b((?:\w+\.)*\w+)\s+(?:FOR\s+)?TIMESTAMP\s+AS\s+OF\s+'([^']+)'""".r
  private val SnapshotsRe = """(?i)\bsnapshots\s*\(\s*\)""".r
  private val InfoSchemaRe = """(?i)(?<!\.)\binformation_schema\.(tables|columns)\b""".r
  private val DuckTablesRe = """(?i)\bduckdb_tables\s*\(\s*\)""".r
  private val DuckColumnsRe = """(?i)\bduckdb_columns\s*\(\s*\)""".r
  private val MetaTableRe =
    """(?i)\bducklake_(?:table|schema|column|snapshot|data_file|delete_file)\b""".r
}
