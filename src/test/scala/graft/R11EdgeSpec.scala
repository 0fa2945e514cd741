package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.api.DuckLakeXLSpark

/** Round-11 advice closures: the end-of-script open-transaction guard
  * (an unclosed BEGIN must never be durably committed by the final
  * push), the CREATE UNIQUE INDEX loud refusal, and implicit casting on
  * the 3-arg regexp_replace native (non-string subject coerces at
  * analysis time instead of ClassCastException at runtime).
  */
class R11EdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshLake(): DuckLakeXLSpark = {
    val dir = Files.createTempDirectory("graft_r11_edge").toString
    new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data")
  }

  test("BEGIN left open at script end: rolled back, loud, never durable") {
    val lake = freshLake()
    lake.sql("CREATE TABLE otx(id INTEGER); INSERT INTO otx VALUES (1)")
    val e = intercept[IllegalStateException] {
      lake.sql("BEGIN; INSERT INTO otx VALUES (2); UPDATE otx SET id = 9 WHERE id = 1")
    }
    assert(e.getMessage.contains("transaction left open"), e.getMessage)
    // the uncommitted writes were discarded, in-session AND durably
    assert(lake.sql("SELECT count(*) AS c FROM otx").head().getLong(0) == 1L)
    assert(lake.sql("SELECT id FROM otx").head().getInt(0) == 1)
    val re = new DuckLakeXLSpark(spark, lake.excelPath, lake.dataPath)
    assert(re.sql("SELECT count(*) AS c FROM otx").head().getLong(0) == 1L)
    // the next script starts clean: no phantom open transaction
    val e2 = intercept[IllegalArgumentException] { lake.sql("ROLLBACK") }
    assert(e2.getMessage.contains("no transaction"), e2.getMessage)
    // a view created inside the abandoned txn must not stay resolvable
    intercept[IllegalStateException] {
      lake.sql("BEGIN; CREATE VIEW otxv AS SELECT id FROM otx")
    }
    assertThrows[Exception] { lake.sql("SELECT * FROM otxv") }
  }

  test("CREATE UNIQUE INDEX refused loudly; plain CREATE INDEX still no-op") {
    val lake = freshLake()
    lake.sql("CREATE TABLE uix(id INTEGER)")
    val e = intercept[IllegalArgumentException] {
      lake.sql("CREATE UNIQUE INDEX u_idx ON uix(id)")
    }
    assert(e.getMessage.contains("UNIQUE INDEX"), e.getMessage)
    lake.sql("CREATE INDEX p_idx ON uix(id); DROP INDEX p_idx") // unchanged
  }

  test("DDL type parser: nested + logical types parse, render, round-trip") {
    import graft.lake.CatalogSchema._
    import org.apache.spark.sql.types._
    assert(parseType("VARCHAR[]") == ArrayType(StringType))
    assert(parseType("INTEGER[][]") == ArrayType(ArrayType(IntegerType)))
    assert(parseType("STRUCT(a INTEGER, b VARCHAR[])") ==
      StructType(Seq(StructField("a", IntegerType), StructField("b", ArrayType(StringType)))))
    assert(parseType("MAP(VARCHAR, STRUCT(x DOUBLE))") ==
      MapType(StringType, StructType(Seq(StructField("x", DoubleType)))))
    assert(parseType("JSON") == StringType && parseType("UUID") == StringType)
    assert(parseType("BLOB") == BinaryType && parseType("BYTEA") == BinaryType)
    assert(parseType("HUGEINT") == DecimalType(38, 0))
    assert(parseType("TIMESTAMPTZ") == TimestampType)
    assert(parseType("TIMESTAMP WITH TIME ZONE") == TimestampType)
    assert(parseType("TIMESTAMP WITHOUT TIME ZONE") == TimestampNTZType)
    assert(parseType("DOUBLE PRECISION") == DoubleType)
    assert(parseType("TIME") == TimeType(6))
    // canonical strings keep the LOGICAL identity (JSON stays JSON)
    assert(canonicalTypeName("json") == "JSON")
    assert(canonicalTypeName("uuid") == "UUID")
    assert(canonicalTypeName("hugeint") == "HUGEINT")
    assert(canonicalTypeName("text[]") == "VARCHAR[]")
    assert(canonicalTypeName("struct(a int, b text)") == "STRUCT(a INTEGER, b VARCHAR)")
    assert(canonicalTypeName("MAP(varchar, int)") == "MAP(VARCHAR, INTEGER)")
    // canonical strings REPARSE to the same Spark type (xlsx round-trip)
    for (t <- Seq("VARCHAR[]", "STRUCT(a INTEGER, b VARCHAR[])",
        "MAP(VARCHAR, INTEGER)", "JSON", "BLOB", "UUID", "HUGEINT",
        "TIMESTAMPTZ", "TIME", "DECIMAL(12,2)[]"))
      assert(parseType(canonicalTypeName(t)) == parseType(t), t)
    // INTERVAL is a logical type on a VARCHAR carrier since r12 (the
    // canonical DuckDB text rendering; functions/IntervalText)
    assert(canonicalTypeName("interval") == "INTERVAL")
    assert(parseType("INTERVAL") == org.apache.spark.sql.types.StringType)
    // trailing garbage refuses
    intercept[IllegalArgumentException] { parseType("INTEGER PRIMARY") }
  }

  test("TIME and TIMESTAMPTZ lake columns round-trip through xlsx + parquet") {
    val lake = freshLake()
    lake.sql("CREATE TABLE tt2(id INTEGER, t TIME, tz TIMESTAMPTZ)")
    lake.sql("INSERT INTO tt2 VALUES " +
      "(1, TIME '11:30:00', TIMESTAMP '2024-03-01 10:00:00'), " +
      "(2, TIME '23:59:59', TIMESTAMP '2024-03-02 00:00:00')")
    val re = new DuckLakeXLSpark(spark, lake.excelPath, lake.dataPath)
    val rows = re.sql(
      "SELECT id, t::VARCHAR AS ts, hour(tz) AS h FROM tt2 ORDER BY id").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("11:30:00", "23:59:59"),
      rows.mkString(","))
    assert(rows.map(_.getInt(2)).toSeq == Seq(10, 0), rows.mkString(","))
    // the catalog column_type strings kept their identity across reopen
    val desc = re.sql("DESCRIBE tt2").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("t") == "TIME" && desc("tz") == "TIMESTAMPTZ", desc)
  }

  test("TEMP tables: session-only, snapshot semantics, shadowing, no workbook trace") {
    val lake = freshLake()
    lake.sql("CREATE TABLE tb(id INTEGER, v VARCHAR); " +
      "INSERT INTO tb VALUES (1,'a'),(2,'b'),(3,'c')")
    lake.sql("CREATE TEMP TABLE st AS SELECT id, upper(v) AS vu FROM tb WHERE id >= 2")
    // snapshot semantics: rewriting the lake table does NOT move the temp
    lake.sql("DELETE FROM tb WHERE id = 3")
    assert(lake.sql("SELECT count(*) AS c FROM st").head().getLong(0) == 2L)
    // INSERT appends; DESCRIBE answers; SHOW TABLES lists it
    lake.sql("INSERT INTO st VALUES (9, 'ZZ')")
    assert(lake.sql("SELECT count(*) AS c FROM st").head().getLong(0) == 3L)
    assert(lake.sql("DESCRIBE st").collect().map(_.getString(0)).toSeq == Seq("id", "vu"))
    assert(lake.sql("SHOW TABLES").collect().map(_.getString(0)).contains("st"))
    // not a workbook sheet, and a REOPEN does not see it
    assert(!graft.xlsx.XlsxCodec.sheetNames(lake.excelPath).exists(_.equalsIgnoreCase("st")))
    val re = new DuckLakeXLSpark(spark, lake.excelPath, lake.dataPath)
    assertThrows[Exception] { re.sql("INSERT INTO st VALUES (1, 'x')") }
    // temp SHADOWS a same-named lake table on bare names (DuckDB search
    // path); dropping the temp un-shadows
    lake.sql("CREATE TEMP TABLE tb AS SELECT 99 AS id, 'tmp' AS v")
    assert(lake.sql("SELECT max(id) AS m FROM tb").head().getInt(0) == 99)
    lake.sql("DROP TABLE tb") // hits the temp first
    assert(lake.sql("SELECT count(*) AS c FROM tb").head().getLong(0) == 2L)
    // duplicate create errors; IF NOT EXISTS and OR REPLACE don't
    val e = intercept[IllegalArgumentException] {
      lake.sql("CREATE TEMP TABLE st(id INTEGER)")
    }
    assert(e.getMessage.contains("exists"), e.getMessage)
    lake.sql("CREATE TEMP TABLE IF NOT EXISTS st(id INTEGER)")
    assert(lake.sql("SELECT count(*) AS c FROM st").head().getLong(0) == 3L)
    lake.sql("CREATE OR REPLACE TEMP TABLE st AS SELECT 1 AS one")
    assert(lake.sql("SELECT * FROM st").head().getInt(0) == 1)
    // DML beyond INSERT refuses loudly
    val e2 = intercept[IllegalArgumentException] { lake.sql("DELETE FROM st WHERE one = 1") }
    assert(e2.getMessage.contains("TEMP"), e2.getMessage)
    // dropping a TEMP table that shadows a lake VIEW un-shadows the view
    // for the rest of the same script
    lake.sql("CREATE VIEW v2 AS SELECT * FROM tb")
    assert(lake.sql("CREATE TEMP TABLE v2 AS SELECT 42 AS id; DROP TABLE v2; " +
      "SELECT count(*) AS c FROM v2").head().getLong(0) == 2L)
    // a non-TEMP CREATE OR REPLACE replaces the lake table; the TEMP
    // table of the same name keeps shadowing it (temp first)
    lake.sql("CREATE TABLE x(id INTEGER); INSERT INTO x VALUES (1),(2),(3)")
    assert(lake.sql("CREATE TEMP TABLE x AS SELECT 42 AS id; " +
      "CREATE OR REPLACE TABLE x(id INTEGER); SELECT count(*) AS c FROM x")
      .head().getLong(0) == 1L)
    assert(lake.sql("SELECT max(id) AS m FROM x").head().getInt(0) == 42)
    assert(lake.sql("DROP TABLE x; SELECT count(*) AS c FROM x").head().getLong(0) == 0L)
  }

  test("USING SAMPLE: unseeded % and ROWS forms run; seeded rows deterministic") {
    val lake = freshLake()
    lake.sql("CREATE TABLE sm(id INTEGER); " +
      "INSERT INTO sm SELECT CAST(range AS INTEGER) FROM range(0, 100)")
    // percent form: row count is probabilistic, bounded by the table
    val pct = lake.sql("SELECT count(*) AS c FROM sm USING SAMPLE 50%").head().getLong(0)
    assert(pct >= 0L && pct <= 100L)
    // ROWS form: Spark's TABLESAMPLE (n ROWS) is an exact cap
    assert(lake.sql("SELECT count(*) AS c FROM sm USING SAMPLE 10 ROWS")
      .head().getLong(0) == 10L)
    // seeded rows: same seed -> same rows, different seed -> (almost
    // surely) different rows; the draw is the documented md5 rank
    def draw(seed: Int): Seq[Int] =
      lake.sql(s"SELECT id FROM sm USING SAMPLE 5 ROWS REPEATABLE ($seed) ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
    assert(draw(7) == draw(7))
    assert(draw(7).length == 5)
    assert(draw(7) != draw(8))
    // seeded percent: per-engine deterministic via Spark's REPEATABLE
    def pdraw(): Long =
      lake.sql("SELECT count(*) AS c FROM sm USING SAMPLE 30% REPEATABLE (11)")
        .head().getLong(0)
    assert(pdraw() == pdraw())
    // the (method, seed) spelling routes too
    assert(lake.sql("SELECT id FROM sm USING SAMPLE 5 ROWS (reservoir, 7) ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == draw(7))
  }

  test("window EXCLUDE: GROUP/TIES, non-decomposable fns, wrong frames refuse loudly") {
    val lake = freshLake()
    lake.sql("CREATE TABLE wx(id INTEGER, v INTEGER); " +
      "INSERT INTO wx VALUES (1,10),(2,20),(3,30)")
    def bad(q: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { lake.sql(q) }
      assert(e.getMessage.contains(needle), s"$q -> ${e.getMessage}")
    }
    // r16 windepth: bounded single-key ROWS EXCLUDE now resolves via
    // the frame-collect path (WinDepthDifferentialSpec pins the values
    // against DuckDB); the refusals narrow to genuinely pathless shapes
    def vals(q: String): Seq[Int] =
      lake.sql(q + " ORDER BY id").collect().toSeq.map(_.getLong(0).toInt)
    assert(vals("SELECT CAST(sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE GROUP) AS BIGINT) AS s, id FROM wx") == Seq(20, 40, 20))
    assert(vals("SELECT CAST(sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE TIES) AS BIGINT) AS s, id FROM wx") == Seq(30, 60, 50))
    assert(vals("SELECT CAST(max(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS s, id FROM wx") == Seq(20, 30, 20))
    // multi-key ORDER BY has no frame-collect path (peer key is a tuple)
    bad("SELECT min(v) OVER (ORDER BY id, v ROWS BETWEEN 1 PRECEDING AND " +
        "1 FOLLOWING EXCLUDE GROUP) FROM wx", "EXCLUDE GROUP")
    // bounded RANGE frames have neither decomposition nor collect path
    bad("SELECT min(v) OVER (ORDER BY id RANGE BETWEEN 1 PRECEDING AND " +
        "1 FOLLOWING EXCLUDE TIES) FROM wx", "EXCLUDE TIES")
    bad("SELECT sum(v) OVER (ORDER BY id ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING " +
        "EXCLUDE CURRENT ROW) FROM wx", "does not contain")
    // RETURNING refusals: unsupported carrier statements stay loud
    bad("INSERT OR REPLACE INTO wx VALUES (1, 5) RETURNING id", "RETURNING")
  }

  test("constraints: NOT NULL/CHECK enforce loudly, survive reopen; UNIQUE/FK refuse") {
    val lake = freshLake()
    lake.sql(
      """CREATE TABLE cst(
        |  id INTEGER PRIMARY KEY,
        |  name VARCHAR NOT NULL,
        |  qty INTEGER DEFAULT 1 CHECK (qty >= 0),
        |  CHECK (id < 1000))""".stripMargin)
    lake.sql("INSERT INTO cst(id, name) VALUES (1, 'a')")
    def violates(q: String, needle: String, l: DuckLakeXLSpark = lake): Unit = {
      val e = intercept[Exception] { l.sql(q) }
      def msgs(x: Throwable): String =
        if (x == null) "" else x.getMessage + " | " + msgs(x.getCause)
      assert(msgs(e).contains(needle), s"$q -> ${msgs(e)}")
    }
    violates("INSERT INTO cst(id) VALUES (2)", "NOT NULL constraint failed: cst.name")
    violates("INSERT INTO cst VALUES (2, NULL, 1)", "NOT NULL constraint failed")
    violates("INSERT INTO cst VALUES (2, 'b', -1)", "CHECK constraint failed")
    violates("INSERT INTO cst VALUES (2000, 'b', 1)", "CHECK constraint failed")
    violates("UPDATE cst SET qty = -5 WHERE id = 1", "CHECK constraint failed")
    // PRIMARY KEY implies NOT NULL (DuckDB)
    violates("INSERT INTO cst VALUES (NULL, 'x', 1)", "NOT NULL constraint failed: cst.id")
    // a failed write committed NOTHING
    assert(lake.sql("SELECT count(*) AS c FROM cst").head().getLong(0) == 1L)
    // constraints round-trip the workbook: a REOPEN still enforces
    val re = new DuckLakeXLSpark(spark, lake.excelPath, lake.dataPath)
    violates("INSERT INTO cst VALUES (5, 'e', -9)", "CHECK constraint failed", re)
    re.sql("INSERT INTO cst(id, name) VALUES (6, 'f')")
    val r6 = re.sql("SELECT qty FROM cst WHERE id = 6").head()
    assert(r6.getInt(0) == 1) // DEFAULT survived the reopen too
    // DESCRIBE reflects declared nullability
    val nulls = re.sql("DESCRIBE cst").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(nulls("id") == "NO" && nulls("name") == "NO" && nulls("qty") == "YES")
    // DEFAULT VALUES inserts a full default row
    lake.sql("CREATE TABLE dv(a INTEGER DEFAULT 7, b VARCHAR DEFAULT 'x')")
    lake.sql("INSERT INTO dv DEFAULT VALUES")
    val dv = lake.sql("SELECT a, b FROM dv").head()
    assert(dv.getInt(0) == 7 && dv.getString(1) == "x")
    // unenforceable constraints refuse at CREATE, not silently drop
    val e1 = intercept[IllegalArgumentException] {
      lake.sql("CREATE TABLE u1(id INTEGER UNIQUE)")
    }
    assert(e1.getMessage.contains("UNIQUE"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      lake.sql("CREATE TABLE u2(id INTEGER REFERENCES cst(id))")
    }
    assert(e2.getMessage.contains("REFERENCES"), e2.getMessage)
  }

  test("MERGE and ON CONFLICT honor NOT NULL/CHECK; MERGE insert fills defaults") {
    val lake = freshLake()
    lake.sql(
      """CREATE TABLE mc(id INTEGER PRIMARY KEY, qty INTEGER CHECK (qty >= 0),
        |  tag VARCHAR DEFAULT 'new');
        |INSERT INTO mc VALUES (1, 5, 'old')""".stripMargin)
    def msgs(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + msgs(x.getCause)
    // upsert DO UPDATE that violates CHECK fails loudly, commits nothing
    val e = intercept[Exception] {
      lake.sql("INSERT INTO mc(id, qty) VALUES (1, 3) " +
        "ON CONFLICT (id) DO UPDATE SET qty = -1")
    }
    assert(msgs(e).contains("CHECK constraint failed"), msgs(e))
    assert(lake.sql("SELECT qty FROM mc WHERE id = 1").head().getInt(0) == 5)
    // MERGE not-matched INSERT fills the declared default for tag
    lake.sql(
      """MERGE INTO mc USING (SELECT 2 AS id, 9 AS qty) s ON mc.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (s.id, s.qty)""".stripMargin)
    val r = lake.sql("SELECT qty, tag FROM mc WHERE id = 2").head()
    assert(r.getInt(0) == 9 && r.getString(1) == "new", r)
    // ... and a violating MERGE insert fails loudly
    val e2 = intercept[Exception] {
      lake.sql(
        """MERGE INTO mc USING (SELECT 3 AS id, -7 AS qty) s ON mc.id = s.id
          |WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (s.id, s.qty)""".stripMargin)
    }
    assert(msgs(e2).contains("CHECK constraint failed"), msgs(e2))
    // a DEFAULT whose literal contains a constraint keyword parses whole
    lake.sql("CREATE TABLE kw(id INTEGER, note VARCHAR DEFAULT 'not null here' NOT NULL)")
    lake.sql("INSERT INTO kw(id) VALUES (1)")
    assert(lake.sql("SELECT note FROM kw").head().getString(0) == "not null here")
  }

  test("ADD COLUMN with DEFAULT: old rows read the default, explicit NULLs survive") {
    val lake = freshLake()
    lake.sql("CREATE TABLE adc(id INTEGER); INSERT INTO adc VALUES (1), (2)")
    lake.sql("ALTER TABLE adc ADD COLUMN score INTEGER DEFAULT 100")
    // rows predating the column read the INITIAL default (DuckLake), not NULL
    assert(lake.sql("SELECT score FROM adc WHERE id = 1").head().getInt(0) == 100)
    // a post-ADD insert can still put an explicit NULL there…
    lake.sql("INSERT INTO adc VALUES (3, NULL)")
    assert(lake.sql("SELECT count(*) AS c FROM adc WHERE score IS NULL")
      .head().getLong(0) == 1L)
    // …and an unlisted column takes the default
    lake.sql("INSERT INTO adc(id) VALUES (4)")
    assert(lake.sql("SELECT score FROM adc WHERE id = 4").head().getInt(0) == 100)
    // the initial default survives a reopen (tags round-trip the workbook)
    val re = new DuckLakeXLSpark(spark, lake.excelPath, lake.dataPath)
    assert(re.sql("SELECT score FROM adc WHERE id = 2").head().getInt(0) == 100)
    // NOT NULL without a DEFAULT refuses while rows exist
    val e = intercept[IllegalArgumentException] {
      lake.sql("ALTER TABLE adc ADD COLUMN req VARCHAR NOT NULL")
    }
    assert(e.getMessage.contains("needs a DEFAULT"), e.getMessage)
    lake.sql("ALTER TABLE adc ADD COLUMN req VARCHAR NOT NULL DEFAULT 'ok'")
    assert(lake.sql("SELECT req FROM adc WHERE id = 1").head().getString(0) == "ok")
  }

  test("ALTER COLUMN SET/DROP DEFAULT and SET/DROP NOT NULL") {
    val lake = freshLake()
    lake.sql("CREATE TABLE ac(id INTEGER, v VARCHAR); INSERT INTO ac VALUES (1, 'a')")
    // SET DEFAULT takes effect for later inserts; DROP reverts to NULL
    lake.sql("ALTER TABLE ac ALTER COLUMN v SET DEFAULT 'dflt'")
    lake.sql("INSERT INTO ac(id) VALUES (2)")
    lake.sql("ALTER TABLE ac ALTER v DROP DEFAULT")
    lake.sql("INSERT INTO ac(id) VALUES (3)")
    val vs = lake.sql("SELECT v FROM ac ORDER BY id").collect().map(r => Option(r.getString(0)))
    assert(vs.toSeq == Seq(Some("a"), Some("dflt"), None), vs.mkString(","))
    // SET NOT NULL refuses while NULLs exist, accepts after they're gone
    val e = intercept[IllegalArgumentException] {
      lake.sql("ALTER TABLE ac ALTER COLUMN v SET NOT NULL")
    }
    assert(e.getMessage.contains("contain NULL"), e.getMessage)
    lake.sql("DELETE FROM ac WHERE v IS NULL; ALTER TABLE ac ALTER COLUMN v SET NOT NULL")
    val e2 = intercept[Exception] { lake.sql("INSERT INTO ac VALUES (4, NULL)") }
    def msgs(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + msgs(x.getCause)
    assert(msgs(e2).contains("NOT NULL constraint failed"), msgs(e2))
    // DROP NOT NULL re-opens the column
    lake.sql("ALTER TABLE ac ALTER COLUMN v DROP NOT NULL; INSERT INTO ac VALUES (5, NULL)")
    assert(lake.sql("SELECT count(*) AS c FROM ac WHERE v IS NULL").head().getLong(0) == 1L)
  }

  test("EXPLAIN ANALYZE runs the query and reports runtime metrics") {
    val lake = freshLake()
    lake.sql("CREATE TABLE ea(id INTEGER, g VARCHAR); " +
      "INSERT INTO ea VALUES (1,'a'),(2,'a'),(3,'b')")
    val out = lake.sql("EXPLAIN ANALYZE SELECT g, count(*) AS c FROM ea GROUP BY g")
      .collect().map(_.getString(0))
    assert(out.head.startsWith("total wall time:"), out.head)
    assert(out.exists(_.contains("HashAggregate")), out.mkString("\n"))
    assert(out.exists(_.contains("numOutputRows=")), out.mkString("\n"))
    // plain EXPLAIN still answers without executing
    val plain = lake.sql("EXPLAIN SELECT g FROM ea").collect().map(_.getString(0))
    assert(plain.nonEmpty)
  }

  test("CTAS derives nested column types; constraints hold on partitioned tables") {
    val lake = freshLake()
    // CTAS from a SELECT producing list/struct/binary columns — typeName
    // must render lake DDL for all of them, and the reopen must re-parse
    lake.sql("CREATE TABLE nc AS SELECT 1 AS id, ['x','y'] AS tags, " +
      "{'w': 640} AS meta, 'abc'::BLOB AS payload")
    val desc = lake.sql("DESCRIBE nc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("tags") == "VARCHAR[]" && desc("meta") == "STRUCT(w INTEGER)" &&
      desc("payload") == "BLOB", desc)
    val re = new DuckLakeXLSpark(spark, lake.excelPath, lake.dataPath)
    val r = re.sql("SELECT tags[2] AS t2, meta.w AS w, octet_length(payload) AS n " +
      "FROM nc").head()
    assert(r.getString(0) == "y" && r.getInt(1) == 640 && r.getInt(2) == 3, r)
    // constraint enforcement rides the PARTITIONED write path too
    lake.sql("CREATE TABLE pc(id INTEGER, region VARCHAR NOT NULL); " +
      "ALTER TABLE pc SET PARTITIONED BY (region); " +
      "INSERT INTO pc VALUES (1, 'west')")
    def msgs(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + msgs(x.getCause)
    val e = intercept[Exception] { lake.sql("INSERT INTO pc VALUES (2, NULL)") }
    assert(msgs(e).contains("NOT NULL constraint failed"), msgs(e))
    assert(lake.sql("SELECT count(*) AS c FROM pc").head().getLong(0) == 1L)
  }

  test("3-arg regexp_replace implicitly casts a non-string subject") {
    val lake = freshLake()
    lake.sql("CREATE TABLE rrf(n INTEGER); INSERT INTO rrf VALUES (11211)")
    // DuckDB casts the INT to VARCHAR; first-match-only on the digits
    val r = lake.sql("SELECT regexp_replace(n, '1', 'X') AS s FROM rrf").head()
    assert(r.getString(0) == "X1211", r.getString(0))
  }
}
