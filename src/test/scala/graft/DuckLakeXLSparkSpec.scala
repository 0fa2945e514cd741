package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.DuckLakeXLSpark
import graft.xlsx.XlsxCodec

/** E2E replay of the reference's smoke flows (SURVEY.md §5.2):
  *  E1 test_excel (ducklakexl.py:695-743): create lake -> CREATE TABLE ->
  *     INSERT 4 rows -> SELECT -> DELETE id=3 -> SELECT {1,2,4}
  *  E2 multi-statement call (test_module.ipynb cell 8): DELETE+INSERT+SELECT
  *     in one string -> {1,2,4,5} pattern
  *  E3 auto-create missing workbook (ducklakexl.py:277-281)
  *  E4 bootstrap branch: sheets exist -> pull, missing -> push (:261-267)
  *  E5 reopen from xlsx+parquet alone (:746-762) — workbook is the source
  *     of truth, not a cache
  */
class DuckLakeXLSparkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshLake(): (DuckLakeXLSpark, String, String) = {
    val dir = Files.createTempDirectory("lake").toString
    val xlsx = s"$dir/lake.xlsx"
    val data = s"$dir/data"
    (new DuckLakeXLSpark(spark, xlsx, data), xlsx, data)
  }

  test("E1: test_excel flow — create, insert, select, delete, select") {
    val (lake, xlsx, _) = freshLake()
    lake.sql("CREATE TABLE my_table(id INTEGER, val VARCHAR)")
    lake.sql("INSERT INTO my_table VALUES (1,'alpha'),(2,'beta'),(3,'gamma'),(4,'delta')")
    val r1 = lake.sql("SELECT * FROM my_table ORDER BY id").collect()
    assert(r1.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta")))
    lake.sql("DELETE FROM my_table WHERE id = 3")
    val r2 = lake.sql("SELECT * FROM my_table ORDER BY id").collect()
    assert(r2.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "alpha"), (2, "beta"), (4, "delta")))
    // catalog sheets landed in the workbook
    val names = XlsxCodec.sheetNames(xlsx).toSet
    for (s <- Seq("snapshot", "schema", "table", "column", "data_file",
      "delete_file", "metadata", "table_stats"))
      assert(names.contains(s), s"missing sheet $s in $names")
  }

  test("E2: multi-statement sql() returns the last SELECT (ipynb cell 8)") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE t(id INTEGER, val VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1,'alpha'),(2,'beta'),(3,'gamma'),(4,'delta')")
    val df = lake.sql(
      """DELETE FROM t WHERE id = 3;
        |INSERT INTO t VALUES (5, 'epsilon');
        |SELECT * FROM t ORDER BY id""".stripMargin)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 4, 5))
  }

  test("E3/E4: missing workbook is auto-created and seeded (push branch)") {
    val (lake, xlsx, _) = freshLake()
    assert(Files.exists(java.nio.file.Paths.get(xlsx)))
    assert(lake.currentState.snapshots.nonEmpty)
    assert(lake.currentState.schemas.map(_.schemaName) == Vector("main"))
  }

  test("E5: reopen from xlsx + parquet alone answers the same query") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE my_table(id INTEGER, val VARCHAR)")
    lake.sql("INSERT INTO my_table VALUES (1,'alpha'),(2,'beta'),(3,'gamma'),(4,'delta')")
    lake.sql("DELETE FROM my_table WHERE id = 3")
    // brand-new instance, no shared state: bootstrap must take the pull branch
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    val rows = reopened.sql("SELECT * FROM my_table ORDER BY id").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "alpha"), (2, "beta"), (4, "delta")))
  }

  test("USE statement validates the lake name (README.md:70)") {
    val (lake, _, _) = freshLake()
    lake.sql("USE my_ducklake; CREATE TABLE u(id INTEGER, v VARCHAR)")
    assertThrows[IllegalArgumentException](lake.sql("USE not_a_lake"))
  }

  test("time travel: snapshots() grows per op, tableAt() answers history") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE tt(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO tt VALUES (1,'a'),(2,'b')")
    val snapAfterInsert = lake.currentState.currentSnapshot
    lake.sql("DELETE FROM tt WHERE id = 1")
    assert(lake.snapshots().count() == lake.currentState.snapshots.size.toLong)
    assert(lake.tableAt("tt", snapAfterInsert).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(lake.table("tt").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("CTAS creates schema from the select and loads data") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE src(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO src VALUES (1,'a'),(2,'b'),(3,'c')")
    val df = lake.sql(
      "CREATE TABLE dst AS SELECT id, upper(v) AS vu FROM src WHERE id > 1; " +
      "SELECT * FROM dst ORDER BY id")
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((2, "B"), (3, "C")))
  }

  test("INSERT INTO ... SELECT appends through the catalog") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE a(id INTEGER, v VARCHAR); CREATE TABLE b(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO a VALUES (1,'x'),(2,'y')")
    lake.sql("INSERT INTO b SELECT id + 10, v FROM a")
    assert(lake.sql("SELECT id FROM b ORDER BY id").collect().map(_.getInt(0)).toSeq ==
      Seq(11, 12))
  }

  test("PIVOT defaults: count(*) agg, implicit group by unreferenced columns") {
    val (lake, _, _) = freshLake()
    lake.sql(
      """CREATE TABLE pv(g VARCHAR, k VARCHAR, v INTEGER);
        |INSERT INTO pv VALUES ('a','x',1),('a','x',2),('a','y',3),('b','y',4)""".stripMargin)
    // no USING -> count(*); no GROUP BY -> group by every column not
    // referenced by ON or USING (here: g and v — DuckDB's implicit rule)
    val r = lake.sql("PIVOT pv ON k").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(r == Seq(("a", 1, 1L, 0L), ("a", 2, 1L, 0L), ("a", 3, 0L, 1L), ("b", 4, 0L, 1L)))
    // USING without GROUP BY: v is referenced, so only g groups; an
    // explicit USING keeps NULL for empty cells (both engines)
    val r2 = lake.sql("PIVOT pv ON k USING sum(v)").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(r2 == Seq(("a", Some(3L), Some(3L)), ("b", None, Some(4L))))
  }

  test("macros survive only the lake object; DROP MACRO; duplicate create errors") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE mm(v INTEGER); INSERT INTO mm VALUES (7)")
    lake.sql("CREATE MACRO twice(x) AS x * 2")
    assert(lake.sql("SELECT twice(v) AS t FROM mm").head().getInt(0) == 14)
    intercept[IllegalArgumentException](lake.sql("CREATE MACRO twice(x) AS x"))
    lake.sql("DROP MACRO twice")
    intercept[Exception](lake.sql("SELECT twice(v) FROM mm"))
    lake.sql("DROP MACRO IF EXISTS twice") // tolerated
  }

  test("DuckDB session statements tolerate: SET/PRAGMA/CHECKPOINT/ANALYZE; VACUUM acts") {
    val (lake, _, _) = freshLake()
    lake.sql(
      """PRAGMA threads=4;
        |SET memory_limit = '1GB';
        |CREATE TABLE st(id INTEGER);
        |INSERT INTO st VALUES (1), (2);
        |CHECKPOINT;
        |ANALYZE""".stripMargin)
    assert(lake.sql("SELECT count(*) AS c FROM st").head().getLong(0) == 2L)
    // SET TimeZone maps to the Spark session conf (the one real analogue)
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      lake.sql("SET TimeZone = 'America/New_York'")
      assert(spark.conf.get("spark.sql.session.timeZone") == "America/New_York")
    } finally spark.conf.set("spark.sql.session.timeZone", before)
    // VACUUM routes to the retention core — and mid-script it must NOT
    // re-pull (which would silently discard the script's earlier
    // uncommitted statements: the review-found data-loss case)
    lake.sql("INSERT INTO st VALUES (3); VACUUM; INSERT INTO st VALUES (4)")
    assert(lake.sql("SELECT count(*) AS c FROM st").head().getLong(0) == 4L)
  }

  test("DML expressions ride the dialect rewrites (1-based subscripts, //)") {
    val (lake, _, _) = freshLake()
    lake.sql(
      """CREATE TABLE dml(id INTEGER, v VARCHAR);
        |INSERT INTO dml VALUES (1, 'a,b'), (2, 'b,c'), (7 // 2, 'z,z')""".stripMargin)
    // [1] is DuckDB's FIRST element — an unrewritten predicate would run
    // Spark 0-based and delete the WRONG rows (the review-found case)
    lake.sql("DELETE FROM dml WHERE split(v, ',')[1] = 'a'")
    assert(lake.sql("SELECT id FROM dml ORDER BY id").collect().map(_.getInt(0)).toSeq ==
      Seq(2, 3))
    lake.sql("UPDATE dml SET id = id + 10 // 2 WHERE split(v, ',')[1] = 'b'")
    assert(lake.sql("SELECT id FROM dml ORDER BY id").collect().map(_.getInt(0)).toSeq ==
      Seq(3, 7))
  }

  test("MERGE tolerates CASE WHEN inside ON/SET; WHEN splits only at clause heads") {
    val (lake, _, _) = freshLake()
    lake.sql(
      """CREATE TABLE mt2(k INTEGER, v INTEGER);
        |CREATE TABLE ms2(k INTEGER, v INTEGER);
        |INSERT INTO mt2 VALUES (1, 5), (2, -3);
        |INSERT INTO ms2 VALUES (1, -7), (3, 4)""".stripMargin)
    lake.sql(
      """MERGE INTO mt2 t USING ms2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = CASE WHEN s.v > 0 THEN s.v ELSE 0 END
        |WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)""".stripMargin)
    val rows = lake.sql("SELECT k, v FROM mt2 ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows == Seq((1, 0), (2, -3), (3, 4)))
  }

  test("dropping the CURRENT schema resets bare-name resolution to main") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE m0(id INTEGER); INSERT INTO m0 VALUES (42)")
    lake.sql("CREATE SCHEMA s2; USE s2; CREATE TABLE t2(id INTEGER)")
    val r = lake.sql("DROP SCHEMA s2 CASCADE; SELECT id FROM m0")
    assert(r.head().getInt(0) == 42)
  }

  test("DESCRIBE SELECT reports a query's schema, composed with the dialect rewrites") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE dsq(id INTEGER, v VARCHAR); INSERT INTO dsq VALUES (1, 'x')")
    val r = lake.sql("DESCRIBE SELECT id + 1 AS id2, upper(v) AS vu FROM dsq")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(r == Seq(("id2", "INTEGER"), ("vu", "VARCHAR")))
    // FROM-first spelling rides through the same path
    val r2 = lake.sql("DESCRIBE FROM dsq SELECT id").collect().map(_.getString(0)).toSeq
    assert(r2 == Seq("id"))
  }

  test("TABLE macros expand to derived tables in FROM position") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE tm(id INTEGER, v INTEGER); INSERT INTO tm VALUES (1,5),(2,50),(3,500)")
    lake.sql("CREATE MACRO big(thr) AS TABLE SELECT id, v FROM tm WHERE v > thr")
    val r = lake.sql("SELECT id FROM big(10) ORDER BY id").collect().map(_.getInt(0)).toSeq
    assert(r == Seq(2, 3))
    // composes with scalar macros and WHERE context
    lake.sql("CREATE MACRO half(x) AS x // 2")
    // Spark's div yields BIGINT (DuckDB's // keeps INTEGER — documented
    // width difference of the rewrite; values agree)
    val r2 = lake.sql("SELECT half(v) AS h FROM big(40) ORDER BY h")
      .collect().map(_.getLong(0)).toSeq
    assert(r2 == Seq(25L, 250L))
  }

  test("DELETE leaves non-matching files untouched (file-granular CoW)") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE f(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO f VALUES (1,'a'),(2,'b')")   // file 1
    lake.sql("INSERT INTO f VALUES (10,'x'),(11,'y')") // file 2
    val filesBefore = lake.currentState.filesOf(
      lake.currentState.tableByName("f").get.tableId)
    lake.sql("DELETE FROM f WHERE id >= 10")
    val t = lake.currentState.tableByName("f").get
    val filesAfter = lake.currentState.filesOf(t.tableId)
    // file 1 must survive verbatim (same path, same file id); file 2 gone
    assert(filesAfter.map(_.path).toSet subsetOf filesBefore.map(_.path).toSet)
    assert(filesAfter.size == 1)
    assert(lake.sql("SELECT count(*) AS c FROM f").collect()(0).getLong(0) == 2L)
    // tombstone recorded
    assert(lake.currentState.deleteFiles.nonEmpty)
  }

  test("stats-based file pruning narrows the scan list (SURVEY §4.2)") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE p(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO p VALUES (1,'a'),(5,'b')")     // min 1  max 5
    lake.sql("INSERT INTO p VALUES (100,'x'),(200,'y')") // min 100 max 200
    val all = lake.currentState.filesOf(lake.currentState.tableByName("p").get.tableId)
    assert(all.size == 2)
    assert(lake.prunedFiles("p", "id", 0, 10).size == 1)
    assert(lake.prunedFiles("p", "id", 50, 99).isEmpty)
    assert(lake.prunedFiles("p", "id", 0, 1000).size == 2)
  }

  test("clustered compact (sortBy) gives files disjoint key ranges -> pruning bites") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE cl(id INTEGER, v VARCHAR)")
    // interleaved key ranges: every file spans [~1, ~100], so a point
    // predicate can prune NOTHING before clustering
    lake.sql("INSERT INTO cl VALUES (1,'a'),(50,'b'),(100,'c')")
    lake.sql("INSERT INTO cl VALUES (2,'d'),(51,'e'),(99,'f')")
    lake.sql("INSERT INTO cl VALUES (3,'g'),(52,'h'),(98,'i')")
    val t = lake.currentState.tableByName("cl").get
    assert(lake.prunedFiles("cl", "id", 50, 52).size == 3, "interleaved: no pruning possible")
    val before = lake.currentState.currentSnapshot
    // tiny target so the rewrite keeps >1 file — the point is DISJOINT
    // ranges, not one big file
    lake.compact("cl", targetBytes = 900L, sortBy = Seq("id"))
    val files = lake.currentState.filesOf(t.tableId)
    assert(files.size > 1, s"expected multiple clustered files, got ${files.size}")
    assert(lake.prunedFiles("cl", "id", 50, 52).size == 1, "clustered: one file holds 50-52")
    // rows, order, history, and the workbook round-trip all intact
    assert(lake.sql("SELECT id FROM cl ORDER BY id").collect().map(_.getInt(0)).toSeq ==
      Seq(1, 2, 3, 50, 51, 52, 98, 99, 100))
    assert(lake.tableAt("cl", before).count() == 9)
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    assert(reopened.sql("SELECT count(*) AS c FROM cl").head().getLong(0) == 9L)
    intercept[IllegalArgumentException](lake.compact("cl", sortBy = Seq("nope")))
  }

  test("UPDATE is copy-on-write: SET sees pre-update row, history intact") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE up(id INTEGER, qty INTEGER, val VARCHAR)")
    lake.sql("INSERT INTO up VALUES (1,10,'a'),(2,20,'b')") // file 1
    lake.sql("INSERT INTO up VALUES (3,30,'c'),(4,40,'d')") // file 2
    val before = lake.currentState.currentSnapshot
    val filesBefore = lake.currentState.filesOf(
      lake.currentState.tableByName("up").get.tableId)
    lake.sql("UPDATE up SET qty = qty + 5, val = 'bumped' WHERE id >= 3")
    val rows = lake.sql("SELECT * FROM up ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq((1, 10, "a"), (2, 20, "b"), (3, 35, "bumped"), (4, 45, "bumped")))
    // untouched file survives verbatim; matched file was rewritten
    val t = lake.currentState.tableByName("up").get
    val filesAfter = lake.currentState.filesOf(t.tableId)
    assert(filesAfter.size == 2)
    assert(filesAfter.map(_.path).toSet.intersect(filesBefore.map(_.path).toSet).size == 1)
    // time travel still answers the pre-update values
    assert(lake.tableAt("up", before).collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      Seq((1, 10), (2, 20), (3, 30), (4, 40)))
    // unknown SET column rejected
    assertThrows[IllegalArgumentException](lake.sql("UPDATE up SET nope = 1"))
  }

  test("compact merges the small-file tail; rows and history intact") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE c(id INTEGER, v VARCHAR)")
    for (i <- 1 to 4) lake.sql(s"INSERT INTO c VALUES ($i, 'r$i')") // 4 tiny files
    val t = lake.currentState.tableByName("c").get
    assert(lake.currentState.filesOf(t.tableId).size == 4)
    val before = lake.currentState.currentSnapshot
    lake.compact("c")
    assert(lake.currentState.filesOf(t.tableId).size == 1)
    assert(lake.sql("SELECT id FROM c ORDER BY id").collect().map(_.getInt(0)).toSeq ==
      Seq(1, 2, 3, 4))
    // pre-compaction snapshot still resolves the old 4-file layout
    assert(lake.tableAt("c", before).collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2, 3, 4))
    // compaction survived the round trip through the workbook
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    assert(reopened.currentState.filesOf(t.tableId).size == 1)
    // stats for the merged file exist (pruning still works)
    assert(lake.prunedFiles("c", "id", 10, 20).isEmpty)
    assert(lake.prunedFiles("c", "id", 1, 2).size == 1)
  }

  test("DROP TABLE ends visibility; IF EXISTS tolerated") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE d(id INTEGER, v VARCHAR)")
    lake.sql("DROP TABLE d")
    assert(lake.currentState.tableByName("d").isEmpty)
    lake.sql("DROP TABLE IF EXISTS d") // no throw
    assertThrows[IllegalArgumentException](lake.sql("DROP TABLE d"))
  }

  test("r9: PRAGMA database_size / version and the session readout scalars") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE pz(id INTEGER, v VARCHAR); INSERT INTO pz VALUES (1,'a'),(2,'b')")
    val ds = lake.sql("PRAGMA database_size").collect()
    assert(ds.length == 1)
    val dsRow = ds.head
    assert(dsRow.getAs[String]("database_name") == "my_ducklake")
    // the table's parquet file exists on disk, so the size readout is real
    assert(dsRow.getAs[String]("database_size") != "0 bytes")
    assert(dsRow.getAs[Long]("block_size") == 262144L)
    val ver = lake.sql("PRAGMA version").collect().head
    assert(ver.getAs[String]("library_version").startsWith("v"))
    val rd = lake.sql(
      """SET memory_limit = '4GB';
        |SET threads = 16;
        |SELECT version() AS v, current_setting('memory_limit') AS ml,
        |       current_setting('threads') * 2 AS t2""".stripMargin).collect().head
    assert(rd.getAs[String]("v").contains("graft"))
    assert(rd.getAs[String]("ml") == "4GB")
    // numeric settings emit unquoted -> arithmetic works on the readout
    assert(rd.getAs[Number]("t2").longValue() == 32L)
    // un-SET keys fall back to live engine facts; unknown keys stay
    // unresolved and fail loudly rather than inventing a value
    assert(lake.sql("SELECT current_setting('timezone') AS tz")
      .collect().head.getAs[String]("tz").nonEmpty)
    assertThrows[Exception](
      lake.sql("SELECT current_setting('no_such_setting_xyz') AS x").collect())
    // quoted SET values unescape: doubled single quotes collapse, double
    // quotes strip (review-found: the readout re-escaped to O''Brien)
    assert(lake.sql(
      """SET who = 'O''Brien'; SELECT current_setting('who') AS w""")
      .collect().head.getAs[String]("w") == "O'Brien")
  }

  test("r9: direct file queries — headerless CSV sniff, stable view names, per-statement re-read") {
    val (lake, _, _) = freshLake()
    val dir = Files.createTempDirectory("graft_csv_sniff").toString
    // headerless numeric csv: DuckDB's sniffer sees data in row 1; the
    // probe must not consume "1,10" as column names
    Files.writeString(java.nio.file.Paths.get(s"$dir/nums.csv"), "1,10\n2,20\n")
    assert(lake.sql(s"SELECT count(*) AS n FROM '$dir/nums.csv'")
      .collect().head.getAs[Long]("n") == 2L)
    // headered csv still sniffs as headered
    Files.writeString(java.nio.file.Paths.get(s"$dir/named.csv"), "id,v\n1,a\n2,b\n")
    assert(lake.sql(s"SELECT id, v FROM '$dir/named.csv' ORDER BY id")
      .collect().map(_.getAs[String]("v")).toSeq == Seq("a", "b"))
    // per-statement re-read: appending to the file is visible to the next
    // statement (a session-lifetime view cache would freeze the listing)
    Files.writeString(java.nio.file.Paths.get(s"$dir/named.csv"),
      "id,v\n1,a\n2,b\n3,c\n")
    assert(lake.sql(s"SELECT count(*) AS n FROM '$dir/named.csv'")
      .collect().head.getAs[Long]("n") == 3L)
    // the same source maps to ONE stable view name — no per-statement
    // catalog leak
    val before = spark.catalog.listTables().filter("name like '__file_%'").count()
    lake.sql(s"SELECT count(*) AS n FROM '$dir/named.csv'")
    lake.sql(s"SELECT count(*) AS n FROM '$dir/named.csv'")
    val after = spark.catalog.listTables().filter("name like '__file_%'").count()
    assert(after == before, s"__file_ views leaked: $before -> $after")
  }

  test("r9: bare count(*) answers from catalog metadata — zero scan") {
    val (lake, _, data) = freshLake()
    lake.sql("CREATE TABLE ct(id INTEGER, val VARCHAR)")
    lake.sql("INSERT INTO ct VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    lake.sql("DELETE FROM ct WHERE id = 3")
    assert(lake.sql("SELECT count(*) FROM ct").head().getLong(0) == 3)
    val aliased = lake.sql("SELECT count(*) AS n FROM ct")
    assert(aliased.columns.toSeq == Seq("n") && aliased.head().getLong(0) == 3)
    // the scan path names the bare column count(1) — the shortcut must too
    assert(lake.sql("SELECT count(*) FROM ct").columns.toSeq == Seq("count(1)"))
    // decisive proof it is metadata-plane: remove the parquet behind the
    // table; the bare count still answers, a predicate count cannot
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(data)).iterator().asScala.toSeq.reverse
      .filter(_.toString.endsWith(".parquet")).foreach(Files.deleteIfExists(_))
    assert(lake.sql("SELECT count(*) FROM ct").head().getLong(0) == 3)
    assertThrows[Exception] {
      lake.sql("SELECT count(*) FROM ct WHERE id > 1").collect()
    }
  }

  test("r9: upsert edges — PK survives reopen; no-PK errors; double-hit errors") {
    val (lake, xlsx, data) = freshLake()
    // table-level PRIMARY KEY spelling parses too
    lake.sql(
      """CREATE TABLE up(id INTEGER, g INTEGER, v VARCHAR, PRIMARY KEY (id, g));
        |INSERT INTO up VALUES (1, 1, 'a'), (1, 2, 'b')""".stripMargin)
    // the pk tag rides the workbook: a REOPENED lake resolves OR REPLACE
    val lake2 = new DuckLakeXLSpark(spark, xlsx, data)
    lake2.sql("INSERT OR REPLACE INTO up VALUES (1, 2, 'B2'), (2, 1, 'c')")
    assert(lake2.sql("SELECT * FROM up ORDER BY id, g").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1, 1, "a"), (1, 2, "B2"), (2, 1, "c")))
    // OR REPLACE with a COLUMN SUBSET replaces the whole row: the
    // unnamed non-key column nulls out (DuckDB's delete+insert), it
    // does not keep its old value
    lake2.sql("ALTER TABLE up ADD COLUMN extra INTEGER")
    lake2.sql("UPDATE up SET extra = 99 WHERE id = 2 AND g = 1")
    lake2.sql("INSERT OR REPLACE INTO up (id, g, v) VALUES (2, 1, 'c2')")
    val rep = lake2.sql("SELECT v, extra FROM up WHERE id = 2 AND g = 1").head()
    assert(rep.getString(0) == "c2" && rep.isNullAt(1),
      "OR REPLACE must null unnamed columns, not keep old values")
    // ON CONFLICT with no target and no declared PK is a loud error
    lake2.sql("CREATE TABLE nopk(id INTEGER, v VARCHAR)")
    val e = intercept[IllegalArgumentException] {
      lake2.sql("INSERT INTO nopk VALUES (1,'x') ON CONFLICT DO NOTHING")
    }
    assert(e.getMessage.contains("PRIMARY KEY"))
    // a source hitting the same target row twice rides MERGE's
    // cardinality guard (DuckDB's double-update rejection)
    assertThrows[IllegalArgumentException] {
      lake2.sql(
        "INSERT INTO up (id, g, v) VALUES (1, 1, 'x'), (1, 1, 'y') " +
        "ON CONFLICT (id, g) DO UPDATE SET v = EXCLUDED.v")
    }
    // the phrase inside a VALUES string literal must not trigger the split
    lake2.sql("INSERT INTO nopk VALUES (7, 'ON CONFLICT DO NOTHING')")
    assert(lake2.sql("SELECT v FROM nopk WHERE id = 7").head().getString(0) ==
      "ON CONFLICT DO NOTHING")
  }

  test("r9: sequences — reopen persistence, scalar draw, per-row refusal") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE SEQUENCE s1 START 5 INCREMENT 2")
    assert(lake.sql("SELECT nextval('s1') AS v").head().getLong(0) == 5L)
    assert(lake.sql("SELECT nextval('s1') AS v").head().getLong(0) == 7L)
    // state rides the workbook: a REOPENED lake continues, not restarts
    val lake2 = new DuckLakeXLSpark(spark, xlsx, data)
    assert(lake2.sql("SELECT nextval('s1') AS v").head().getLong(0) == 9L)
    assert(lake2.sql("SELECT currval('s1') AS v").head().getLong(0) == 9L)
    // a per-row draw over a scan is refused loudly, not computed once
    lake2.sql("CREATE TABLE sq(id INTEGER); INSERT INTO sq VALUES (1),(2)")
    val e = intercept[IllegalArgumentException] {
      lake2.sql("SELECT nextval('s1') AS v FROM sq")
    }
    assert(e.getMessage.contains("nextval"))
    // literal text must never draw
    lake2.sql("CREATE TABLE sv(t VARCHAR); INSERT INTO sv VALUES ('nextval(''s1'')')")
    assert(lake2.sql("SELECT t FROM sv").head().getString(0) == "nextval('s1')")
    assert(lake2.sql("SELECT currval('s1') AS v").head().getLong(0) == 9L)
    // unknown sequence and duplicate create are loud; IF NOT EXISTS quiet
    assertThrows[IllegalArgumentException] { lake2.sql("SELECT nextval('nope') AS v") }
    assertThrows[IllegalArgumentException] { lake2.sql("CREATE SEQUENCE s1") }
    lake2.sql("CREATE SEQUENCE IF NOT EXISTS s1 START 999")
    assert(lake2.sql("SELECT nextval('s1') AS v").head().getLong(0) == 11L)
    lake2.sql("DROP SEQUENCE s1")
    assertThrows[IllegalArgumentException] { lake2.sql("SELECT currval('s1') AS v") }
  }

  test("r9: join DML edges — multi-match update errors; plain DML untouched") {
    val (lake, _, _) = freshLake()
    lake.sql(
      """CREATE TABLE jt(id INTEGER, n INTEGER);
        |INSERT INTO jt VALUES (1, 10), (2, 20);
        |CREATE TABLE js(id INTEGER, d INTEGER);
        |INSERT INTO js VALUES (1, 1), (1, 2)""".stripMargin)
    // two source rows hit target id=1 — the cardinality guard must fire
    // (DuckDB/Postgres would silently pick one)
    assertThrows[IllegalArgumentException] {
      lake.sql("UPDATE jt SET n = jt.n + s.d FROM js s WHERE jt.id = s.id")
    }
    // a subquery source with dedup works, and plain UPDATE/DELETE still
    // route through the simple path (FROM inside parens must not split)
    lake.sql(
      """UPDATE jt SET n = jt.n + s.md FROM
        |  (SELECT id, max(d) AS md FROM js GROUP BY id) s WHERE jt.id = s.id;
        |UPDATE jt SET n = n + (SELECT min(d) FROM js) WHERE id = 2""".stripMargin)
    assert(lake.sql("SELECT * FROM jt ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 12), (2, 21)))
    lake.sql("DELETE FROM jt USING js WHERE jt.id = js.id")
    assert(lake.sql("SELECT id FROM jt").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("a U+FFFF value does not brick the lake: its min/max stat round-trips the workbook") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE t(v VARCHAR)")
    lake.sql("INSERT INTO t VALUES ('zz\uffff')")
    assert(lake.sql("SELECT v FROM t").collect().map(_.getString(0)).toSeq == Seq("zz\uffff"))
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    assert(reopened.sql("SELECT count(*) FROM t WHERE v = 'zz\uffff'").collect().head.getLong(0) == 1L)
  }

  test("control characters and edge spaces keep their min/max stat, so an equality filter still finds the row") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE t(v VARCHAR)")
    lake.sql("INSERT INTO t VALUES ('a\u0001')")
    lake.sql("INSERT INTO t VALUES ('z ')")
    def count(where: String) = lake.sql(s"SELECT count(*) FROM t$where").collect().head.getLong(0)
    assert(count("") == 2L)
    assert(count(" WHERE v = 'a\u0001'") == 1L)
    assert(count(" WHERE v = 'z '") == 1L)
  }

  test("inlined rows and partition values keep edge spaces and control characters") {
    val dir = Files.createTempDirectory("lake").toString
    val inlined = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data", inlineRowLimit = 10)
    inlined.sql("CREATE TABLE t(v VARCHAR)")
    inlined.sql("INSERT INTO t VALUES (' a '), ('b\u0001')")
    assert(inlined.sql("SELECT v FROM t ORDER BY v").collect().map(_.getString(0)).toSeq ==
      Seq(" a ", "b\u0001"))
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE p(k VARCHAR, x INTEGER); ALTER TABLE p SET PARTITIONED BY (k)")
    lake.sql("INSERT INTO p VALUES (' a', 1), ('b', 2)")
    assert(lake.sql("SELECT x FROM p WHERE k = ' a'").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("a lake view dropped by another writer stops resolving after the pull") {
    val (a, xlsx, data) = freshLake()
    a.sql("CREATE TABLE xw_t(id INTEGER); INSERT INTO xw_t VALUES (1),(2); " +
      "CREATE VIEW xw_v AS SELECT * FROM xw_t")
    assert(a.sql("SELECT count(*) AS c FROM xw_v").head().getLong(0) == 2L)
    // the other writer runs on its own session, so its temp views are not
    // the ones this lake registered
    val other = spark.newSession()
    def onOther[A](body: => A): A = {
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(other)
      try body
      finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    val b = onOther(new DuckLakeXLSpark(other, xlsx, data))
    onOther(b.sql("DROP VIEW xw_v"))
    val e = intercept[Exception] { a.sql("SELECT count(*) AS c FROM xw_v") }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
    assert(a.currentState.liveViews().isEmpty)
  }

  test("metadata relations are built by the statement that names them, from its catalog") {
    val (lake, _, _) = freshLake()
    // one script: information_schema sees the table created before it,
    // ducklake_data_file the files inserted before it
    val r = lake.sql(
      """CREATE TABLE mz(id INTEGER);
        |CREATE TEMP TABLE mz_seen AS
        |  SELECT count(*) AS c FROM information_schema.tables WHERE table_name = 'mz';
        |INSERT INTO mz VALUES (1);
        |INSERT INTO mz VALUES (2);
        |SELECT (SELECT c FROM mz_seen) AS tables_seen, count(*) AS files
        |  FROM ducklake_data_file f JOIN ducklake_table t ON f.table_id = t.table_id
        |  WHERE t.table_name = 'mz'""".stripMargin).head()
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    // a double-quoted bare metadata name resolves too
    assert(lake.sql("CREATE TABLE mz2(id INTEGER); " +
      "SELECT table_name FROM \"ducklake_table\" WHERE table_name = 'mz2'")
      .collect().map(_.getString(0)).toSeq == Seq("mz2"))
    // a statement that names no metadata relation builds none
    spark.catalog.dropTempView("__info_tables")
    spark.catalog.dropTempView("ducklake_data_file")
    lake.sql("INSERT INTO mz VALUES (3); SELECT count(*) AS c FROM mz").collect()
    assert(!spark.catalog.tableExists("__info_tables"))
    assert(!spark.catalog.tableExists("ducklake_data_file"))
    // a lake table created under a metadata name wins over the relation
    // an earlier statement built for that name
    lake.sql("SELECT count(*) AS c FROM ducklake_snapshot").collect()
    lake.sql("CREATE TABLE ducklake_snapshot(id INTEGER)")
    assert(lake.sql("SELECT * FROM ducklake_snapshot").columns.toSeq == Seq("id"))
  }

  test("DML predicates, SET lists and view bodies may name metadata relations") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE md_t(id BIGINT); INSERT INTO md_t VALUES (1),(2),(3); " +
      "CREATE VIEW md_v AS SELECT count(*) AS c FROM ducklake_snapshot")
    // no earlier statement may leave the relations behind for these
    Seq("ducklake_table", "ducklake_snapshot").foreach(spark.catalog.dropTempView)
    lake.sql("DELETE FROM md_t WHERE id <= " +
      "(SELECT count(*) FROM ducklake_table WHERE table_name = 'md_t')")
    assert(lake.sql("SELECT id FROM md_t ORDER BY id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 3L))
    Seq("ducklake_table", "ducklake_snapshot").foreach(spark.catalog.dropTempView)
    val head = lake.currentState.currentSnapshot
    lake.sql("UPDATE md_t SET id = (SELECT max(snapshot_id) FROM ducklake_snapshot) " +
      "WHERE id = 3")
    assert(lake.sql("SELECT id FROM md_t ORDER BY id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, head))
    // the view re-registers against the new catalog, its relation with it
    assert(lake.sql("SELECT c FROM md_v").head().getLong(0) ==
      lake.sql("SELECT count(*) AS c FROM ducklake_snapshot").head().getLong(0))
  }

  test("a statement's metadata relations end with its sql() call; its DataFrame keeps them") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE ml(id INTEGER); INSERT INTO ml VALUES (1)")
    val df = lake.sql("SELECT count(*) AS c FROM ducklake_data_file")
    assert(!spark.catalog.tableExists("ducklake_data_file"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a lake view over a metadata relation reads in consecutive read-only
    // calls, which reuse the catalog and so do not rebuild the view
    lake.sql("CREATE VIEW ml_v AS SELECT max(snapshot_id) AS s FROM ducklake_snapshot")
    val head = lake.currentState.currentSnapshot
    for (_ <- 1 to 2) {
      assert(lake.sql("SELECT s FROM ml_v").head().getLong(0) == head)
      assert(!spark.catalog.tableExists("ducklake_snapshot"))
    }
  }
}
