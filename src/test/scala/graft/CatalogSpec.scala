package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lake._
import graft.xlsx.XlsxCodec

class CatalogSpec extends AnyFunSuite {

  test("§1.3 coercions: empty/NA spellings -> NULL") {
    assert(CatalogState.optCell("").isEmpty)
    assert(CatalogState.optCell("  ").isEmpty)
    assert(CatalogState.optCell("<NA>").isEmpty)
    assert(CatalogState.optCell("nan").isEmpty)
    assert(CatalogState.optCell("None").isEmpty)
    assert(CatalogState.optCell("NaT").isEmpty)
    assert(CatalogState.optCell("0").contains("0"))
  }

  test("§1.3 coercions: boolean string prefixes (ducklakexl.py:434-453)") {
    for (s <- Seq("true", "True", "TRUE", "t", "1"))
      assert(CatalogState.asBool(s).contains(true), s)
    for (s <- Seq("false", "False", "FALSE", "f", "0"))
      assert(CatalogState.asBool(s).contains(false), s)
    assert(CatalogState.asBool("yes").isEmpty)
    assert(CatalogState.asBool("").isEmpty)
  }

  test("§1.3 coercions: Excel numeric cells like '3.0' parse as int ids") {
    assert(CatalogState.asLong("3") == 3L)
    assert(CatalogState.asLong("3.0") == 3L)
    assert(CatalogState.asLong(" 42 ") == 42L)
    // Excel scientific spelling has no '.': must parse, not throw (r8)
    assert(CatalogState.asLong("1E+15") == 1000000000000000L)
    assert(CatalogState.asLong("-5") == -5L)
    // fractions are REJECTED loudly, never silently truncated
    intercept[IllegalArgumentException](CatalogState.asLong("3.9"))
  }

  test("id counters read the HIGHEST snapshot, not sheet row order (r8)") {
    // a foreign writer (or a user sorting in Excel) may store snapshot
    // rows unordered; lastOption would re-allocate live ids
    val s = CatalogState.empty.copy(snapshots = Vector(
      SnapshotRow(5L, "2026-01-02 00:00:00", 0L, 90L, 9L),
      SnapshotRow(1L, "2026-01-01 00:00:00", 0L, 10L, 2L)))
    assert(s.currentSnapshot == 5L)
    assert(s.nextCatalogId == 90L)
    assert(s.nextFileId == 9L)
  }

  test("'encrypted' metadata value lower-cases on pull (ducklakexl.py:501-505)") {
    val sheets = Seq(XlsxSheet("metadata",
      Seq(Seq("key", "value"), Seq("encrypted", "True"), Seq("other", "True"))))
    val st = CatalogState.fromSheets(sheets)
    assert(st.metadata.toMap.get("encrypted").contains("true"))
    assert(st.metadata.toMap.get("other").contains("True"))
  }

  private val populated = CatalogState.empty.copy(
    metadata = Vector("version" -> "0.1", "encrypted" -> "false"),
    snapshots = Vector(SnapshotRow(0, "2025-01-01 00:00:00", 0, 5, 3),
      SnapshotRow(1, "2025-01-01 00:00:01", 1, 8, 4)),
    schemas = Vector(SchemaRow(1, "uuid-s", 0, None, "main")),
    tables = Vector(TableRow(2, "uuid-t", 1, None, 1, "my_table"),
      TableRow(3, "uuid-d", 1, Some(2), 1, "dropped")),
    columns = Vector(
      ColumnRow(4, 1, None, 2, 0, "id", "INTEGER", true),
      ColumnRow(5, 1, None, 2, 1, "val", "VARCHAR", true)),
    dataFiles = Vector(DataFileRow(1, 2, 1, None, "/d/f1.parquet", 4, 123),
      DataFileRow(2, 2, 1, Some(2), "/d/f0.parquet", 2, 99)),
    deleteFiles = Vector(DeleteFileRow(3, 2, 2, None, 2, "", 2)),
    tableStats = Vector(TableStatsRow(2, 4)),
    fileColumnStats = Vector(
      FileColumnStatsRow(1, 2, 4, Some("1"), Some("4"), 0),
      FileColumnStatsRow(1, 2, 5, None, None, 2)))

  test("toSheets . fromSheets == id on a populated state") {
    assert(CatalogState.fromSheets(populated.toSheets) == populated)
  }

  test("toSheets writes each known sheet's CatalogSchema.tables header") {
    val headers = CatalogSchema.tables.map { case (t, h) => CatalogSchema.sheetName(t) -> h }
    val known = populated.toSheets.filter(s => CatalogSchema.knownSheetNames(s.name))
    assert(known.map(s => s.name -> s.rows.head) == headers)
  }

  test("fromSheets finds columns by header, in any order") {
    val reversed = populated.toSheets.map { s =>
      val w = s.rows.map(_.length).max
      s.copy(rows = s.rows.map(_.padTo(w, "").reverse))
    }
    assert(CatalogState.fromSheets(reversed) == populated)
  }

  test("fromSheets: a duplicate header resolves to its last column") {
    val sheets = populated.toSheets.map {
      case s if s.name == "data_file" =>
        s.copy(rows = (s.rows.head :+ "path") +: s.rows.tail.map(r => r :+ s"${r(4)}.moved"))
      case s => s
    }
    val st = CatalogState.fromSheets(sheets)
    assert(st.dataFiles == populated.dataFiles.map(f => f.copy(path = f.path + ".moved")))
  }

  test("fromSheets: short rows read blank, absent optional columns fall back, " +
      "blank rows are skipped, an absent required column throws") {
    val st = CatalogState.fromSheets(Seq(
      XlsxSheet("snapshot", Seq(
        Seq("snapshot_id", "snapshot_time", "schema_version", "next_catalog_id", "next_file_id"),
        Seq("3"), Seq("", ""))),
      XlsxSheet("table", Seq(Seq("table_name", "table_id", "begin_snapshot"), Seq("t", "2", "1"))),
      XlsxSheet("data_file", Seq(
        Seq("data_file_id", "table_id", "begin_snapshot", "path", "end_snapshot", "record_count"),
        Seq("1", "2", "1", "/p")))))
    assert(st.snapshots == Vector(SnapshotRow(3, "", 0, 1, 1)))
    assert(st.tables == Vector(TableRow(2, "", 1, None, 0, "t")))
    assert(st.dataFiles == Vector(DataFileRow(1, 2, 1, None, "/p", 0, 0)))
    val e = intercept[NoSuchElementException](CatalogState.fromSheets(Seq(
      XlsxSheet("table", Seq(Seq("table_id", "begin_snapshot"), Seq("2", "1"))))))
    assert(e.getMessage == "key not found: table_name")
  }

  test("fromSheets . toSheets == id on the Excel-authored fixture's catalog") {
    val st = CatalogState.fromSheets(XlsxCodec.read("fixtures/excel_authored_lake.xlsx")
      .map { case (n, rows) => XlsxSheet(n, rows) })
    assert(st.tables.nonEmpty && st.inlinedData.nonEmpty)
    assert(CatalogState.fromSheets(st.toSheets) == st)
  }

  test("column defaults live IN the ducklake_column sheet (DuckLake v0.1)") {
    val st = CatalogState.empty.copy(
      metadata = Vector("version" -> "0.1"),
      snapshots = Vector(SnapshotRow(0, "2025-01-01 00:00:00", 0, 9, 1)),
      schemas = Vector(SchemaRow(1, "uuid-s", 0, None, "main")),
      tables = Vector(TableRow(2, "uuid-t", 0, None, 1, "t")),
      columns = Vector(
        ColumnRow(4, 0, None, 2, 0, "id", "INTEGER", true),
        ColumnRow(5, 0, None, 2, 1, "v", "INTEGER", true)),
      columnTags = Vector(
        ColumnTagRow(2, 5, 0, None, "default", "7"),
        ColumnTagRow(2, 5, 0, None, "initial_default", "7"),
        // an ENDED default must not render (it was dropped)
        ColumnTagRow(2, 4, 0, Some(0), "default", "99")))
    val sheet = st.toSheets.find(_.name == "column").get
    val hdr = sheet.rows.head
    val iDef = hdr.indexOf("initial_default")
    val iVal = hdr.indexOf("default_value")
    assert(iDef >= 0 && iVal >= 0)
    val byId = sheet.rows.tail.map(r => r.head -> r).toMap
    assert(byId("5")(iDef) == "7" && byId("5")(iVal) == "7")
    assert(byId("4")(iDef) == "" && byId("4")(iVal) == "")
    // tag-carrying workbooks round-trip identically (tags win, no dup)
    assert(CatalogState.fromSheets(st.toSheets) == st)
    // a FOREIGN DuckLake workbook has the cells but no column_tag rows:
    // the defaults must still be visible through the tag registry
    val foreign = st.toSheets.map { s =>
      if (s.name == "column_tag") s.copy(rows = Seq(s.rows.head)) else s
    }
    val ft = CatalogState.fromSheets(foreign)
    assert(ft.columnTagOf(2, 5, "default").contains("7"))
    assert(ft.columnTagOf(2, 5, "initial_default").contains("7"))
    assert(ft.columnTagOf(2, 4, "default").isEmpty)
  }

  test("snapshot-scoped visibility: dropped tables and ended files filtered") {
    val st = CatalogState.empty.copy(
      snapshots = Vector(SnapshotRow(0, "t", 0, 9, 9), SnapshotRow(1, "t", 1, 9, 9),
        SnapshotRow(2, "t", 2, 9, 9)),
      tables = Vector(TableRow(1, "u", 1, Some(2), 1, "gone"),
        TableRow(2, "u2", 1, None, 1, "alive")),
      dataFiles = Vector(DataFileRow(1, 2, 1, Some(2), "old", 5, 1),
        DataFileRow(2, 2, 2, None, "new", 3, 1)))
    assert(st.liveTables(1).map(_.tableName).toSet == Set("gone", "alive"))
    assert(st.liveTables(2).map(_.tableName) == Vector("alive"))
    assert(st.filesOf(2, 1).map(_.path) == Vector("old"))
    assert(st.filesOf(2, 2).map(_.path) == Vector("new"))
  }

  test("SQL type round-trip") {
    for (t <- Seq("INTEGER", "BIGINT", "VARCHAR", "DOUBLE", "FLOAT", "BOOLEAN",
      "DATE", "TIMESTAMP", "DECIMAL(10,2)", "SMALLINT", "TINYINT"))
      assert(CatalogSchema.typeName(CatalogSchema.parseType(t)) == t)
    assertThrows[IllegalArgumentException](CatalogSchema.parseType("BLOBFISH"))
  }

  test("statement splitter respects quotes and comments (SURVEY §7.4)") {
    val s = StatementRouter.split(
      """CREATE TABLE t(id INTEGER, val VARCHAR); -- a; comment
        |INSERT INTO t VALUES (1, 'semi;colon'), (2, 'it''s');
        |/* block; comment */ SELECT * FROM t WHERE val = 'x;y'""".stripMargin)
    assert(s.size == 3)
    assert(s(1).contains("semi;colon") && s(1).contains("it''s"))
    assert(s(2).startsWith("SELECT"))
  }

  test("statement classification") {
    import StatementRouter._
    assert(classify("CREATE TABLE my_table(id INTEGER, val VARCHAR)") ==
      CreateTable("my_table", Seq("id" -> "INTEGER", "val" -> "VARCHAR"), false,
        defs = Seq(ColDef("id", "INTEGER"), ColDef("val", "VARCHAR"))))
    assert(classify("create table if not exists t (a DECIMAL(10,2), b VARCHAR)") ==
      CreateTable("t", Seq("a" -> "DECIMAL(10,2)", "b" -> "VARCHAR"), true,
        defs = Seq(ColDef("a", "DECIMAL(10,2)"), ColDef("b", "VARCHAR"))))
    assert(classify("INSERT INTO t VALUES (1,'a')") == InsertValues("t", None, "VALUES (1,'a')"))
    assert(classify("INSERT INTO t SELECT * FROM u") == InsertSelect("t", None, "SELECT * FROM u"))
    assert(classify("DELETE FROM t WHERE id = 3") == Delete("t", Some("id = 3")))
    assert(classify("DELETE FROM t") == Delete("t", None))
    assert(classify("DROP TABLE IF EXISTS t") == DropTable("t", true))
    assert(classify("USE my_ducklake") == Use("my_ducklake"))
    assert(classify("SELECT 1").isInstanceOf[Select])
    assert(classify("CREATE TABLE c AS SELECT 1 AS x") == CreateTableAs("c", "SELECT 1 AS x", false))
  }

  test("statement classification: r3 router additions") {
    import StatementRouter._
    // explicit column lists (r2 verdict missing #6)
    assert(classify("INSERT INTO t(val, id) VALUES ('a', 1)") ==
      InsertValues("t", Some(Seq("val", "id")), "VALUES ('a', 1)"))
    assert(classify("INSERT INTO t (id) SELECT x FROM u") ==
      InsertSelect("t", Some(Seq("id")), "SELECT x FROM u"))
    // views (r2 verdict missing #4)
    assert(classify("CREATE VIEW v AS SELECT id FROM t") ==
      CreateView("v", "SELECT id FROM t", false))
    assert(classify("CREATE OR REPLACE VIEW v AS SELECT 1 AS x") ==
      CreateView("v", "SELECT 1 AS x", true))
    assert(classify("DROP VIEW IF EXISTS v") == DropView("v", true))
    // transaction statements the reference's own pull emits (#7) —
    // real scoping statements since r10 (ROLLBACK restores the catalog)
    assert(classify("BEGIN") == Begin)
    assert(classify("BEGIN TRANSACTION") == Begin)
    assert(classify("COMMIT") == Commit)
    assert(classify("ROLLBACK") == Rollback)
    assert(classify("CREATE INDEX i ON t(x)") == NoOp)
    assert(classify("TRUNCATE t") == Delete("t", None))
    assert(classify("TRUNCATE TABLE t") == Delete("t", None))
  }

  test("quote-aware WHERE split (r2 verdict wrong #6)") {
    import StatementRouter._
    // WHERE inside a string literal must not split the statement
    assert(classify("UPDATE t SET v = 'a WHERE b'") ==
      Update("t", Seq("v" -> "'a WHERE b'"), None))
    assert(classify("UPDATE t SET v = 'a WHERE b' WHERE id = 1") ==
      Update("t", Seq("v" -> "'a WHERE b'"), Some("id = 1")))
    assert(classify("DELETE FROM t WHERE v = 'x WHERE y'") ==
      Delete("t", Some("v = 'x WHERE y'")))
    // WHERE inside a subquery's parens stays with the subquery
    assert(classify("DELETE FROM t WHERE id IN (SELECT id FROM u WHERE x = 1)") ==
      Delete("t", Some("id IN (SELECT id FROM u WHERE x = 1)")))
  }

  test("unknown catalog sheets round-trip inert (SURVEY §1.2)") {
    // (r7: all 20 spec tables are interpreted — sheets from a FUTURE
    // spec revision prove the pass-through now)
    val extra = Seq(
      XlsxSheet("future_sheet_a", Seq(Seq("some_id", "table_id"), Seq("1", "2"))),
      XlsxSheet("future_sheet_b", Seq(Seq("some_id", "name"), Seq("1", "it's ops"))))
    val st = CatalogState.empty.copy(
      metadata = Vector("version" -> "0.1"),
      snapshots = Vector(SnapshotRow(0, "2025-01-01 00:00:00", 0, 1, 1)),
      extraSheets = extra.toVector)
    val rt = CatalogState.fromSheets(st.toSheets)
    assert(rt == st)
    // and the sheets are actually present in the serialized form
    assert(st.toSheets.map(_.name).count(Set("future_sheet_a", "future_sheet_b")) == 2)

    // the mapping sheets themselves now parse TYPED and re-emit
    val withMaps = st.copy(
      columnMappings = Vector(ColumnMappingRow(5, 2, "map_by_name")),
      nameMappings = Vector(
        NameMappingRow(5, 11, "ident", "id", hivePartition = false),
        NameMappingRow(5, 12, "region", "region", hivePartition = true)))
    val rt2 = CatalogState.fromSheets(withMaps.toSheets)
    assert(rt2 == withMaps)
  }

  test("views round-trip through sheets") {
    val st = CatalogState.empty.copy(
      snapshots = Vector(SnapshotRow(0, "t", 0, 9, 9)),
      views = Vector(ViewRow(5, "uuid-v", 1, None, 1, "v1", "SELECT 1 AS x")))
    val rt = CatalogState.fromSheets(st.toSheets)
    assert(rt == st)
    assert(st.viewByName("v1", 1).isDefined)
  }
}
