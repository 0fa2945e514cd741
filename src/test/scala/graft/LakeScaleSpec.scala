package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.api.DuckLakeXLSpark

/** Round-3 lake features: plan-time stats file-pruning through the scan,
  * constant-job DML, SQL views, column-list INSERT, qualified names,
  * SQL time travel, and transaction-statement tolerance.
  */
class LakeScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshLake(): (DuckLakeXLSpark, String, String) = {
    val dir = Files.createTempDirectory("lake_r3").toString
    val xlsx = s"$dir/lake.xlsx"
    val data = s"$dir/data"
    (new DuckLakeXLSpark(spark, xlsx, data), xlsx, data)
  }

  test("pushed predicate prunes data files at plan time (SURVEY §4.2)") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE p(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO p VALUES (1,'a'),(5,'b')")      // [1, 5]
    lake.sql("INSERT INTO p VALUES (100,'x'),(200,'y')")  // [100, 200]
    lake.sql("INSERT INTO p VALUES (1000,'q'),(2000,'r')")// [1000, 2000]
    // AQE re-instantiates the scan node, hiding its metrics — turn it off
    // for the plan inspection only
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // plan metrics via the direct DataFrame path (lake.table) — the DSv2
      // catalog path wraps the very same FileIndex behind a V1Scan bridge,
      // so its inner FileSourceScanExec is not visible from the outer plan
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.map(_.metrics("numFiles").value).sum
      }
      assert(scannedFiles(lake.table("p").where("id > 500")) == 1L)
      assert(scannedFiles(lake.table("p").where("id BETWEEN 50 AND 99")) == 0L)
      assert(scannedFiles(lake.table("p").where("id = 100")) == 1L)
      assert(scannedFiles(lake.table("p")) == 3L)
      // catalog path: results correct AND the pushed-down predicate reached
      // the bridge's inner scan (where the same FileIndex prunes)
      graft.lake.DuckLakeCatalog.lastScanPushedFilters.set(-1)
      assert(lake.sql("SELECT sum(id) AS s FROM p WHERE id > 500")
        .collect()(0).getLong(0) == 3000L)
      assert(graft.lake.DuckLakeCatalog.lastScanPushedFilters.get() >= 1,
        "DSv2 scan must hand pushed filters to the inner stats-pruning scan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // table-level stats derive from the same per-file stats (numeric compare)
    val cs = lake.columnStats("p").collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getString(3)))).toMap
    assert(cs("id") == (("1", "2000")))
  }

  private def jobsInGroup(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    // job events land in the status store asynchronously
    var n = -1
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 10000) {
      val cur = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      if (cur == n) stable += 1 else { n = cur; stable = 0 }
      Thread.sleep(150); waited += 150
    }
    n
  }

  test("DELETE over 20 files runs a constant number of Spark jobs") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE jj(id INTEGER, v VARCHAR)")
    for (i <- 1 to 20)
      lake.sql(s"INSERT INTO jj VALUES (${i * 10}, 'r$i'), (${i * 10 + 1}, 's$i')")
    val t = lake.currentState.tableByName("jj").get
    assert(lake.currentState.filesOf(t.tableId).size == 20)
    // odd id in every file -> all 20 files partially match
    val jobs = jobsInGroup("del-const") {
      lake.sql("DELETE FROM jj WHERE id % 2 = 1")
    }
    assert(jobs <= 3, s"DELETE ran $jobs Spark jobs; want <=3 (hits, rewrite, stats)")
    assert(lake.sql("SELECT count(*) AS c FROM jj").collect()(0).getLong(0) == 20L)
    assert(lake.currentState.deleteFiles.size == 20)
  }

  test("UPDATE over 20 files runs a constant number of Spark jobs") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE uu(id INTEGER, qty INTEGER)")
    for (i <- 1 to 20)
      lake.sql(s"INSERT INTO uu VALUES ($i, ${i * 10})")
    val jobs = jobsInGroup("upd-const") {
      lake.sql("UPDATE uu SET qty = qty + 1 WHERE id <= 20")
    }
    assert(jobs <= 3, s"UPDATE ran $jobs Spark jobs; want <=3")
    assert(lake.sql("SELECT sum(qty) AS s FROM uu").collect()(0).getLong(0) ==
      (1 to 20).map(_ * 10 + 1).sum.toLong)
  }

  test("a 1-row INSERT VALUES runs one Spark job: the write; stats come from the footer") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE one(id INTEGER, v VARCHAR, x DOUBLE)")
    val jobs = jobsInGroup("ins-one") { lake.sql("INSERT INTO one VALUES (1, 'a', 1.5)") }
    assert(jobs == 1, s"INSERT ran $jobs Spark jobs; want 1 (the write)")
    val t = lake.currentState.tableByName("one").get
    val f = lake.currentState.filesOf(t.tableId).head
    assert(f.recordCount == 1L)
    assert(lake.currentState.fileColumnStats.filter(_.dataFileId == f.dataFileId)
      .map(s => (s.minValue, s.maxValue, s.nullCount)).toSet ==
      Set((Some("1"), Some("1"), 0L), (Some("a"), Some("a"), 0L), (Some("1.5"), Some("1.5"), 0L)))
  }

  test("DELETE and UPDATE over 20 files run at most 2 Spark jobs (hits, rewrite)") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE du(id INTEGER, qty INTEGER)")
    for (i <- 1 to 20)
      lake.sql(s"INSERT INTO du VALUES (${i * 10}, $i), (${i * 10 + 1}, $i)")
    val upd = jobsInGroup("upd-two") { lake.sql("UPDATE du SET qty = qty + 1 WHERE id % 2 = 0") }
    assert(upd <= 2, s"UPDATE ran $upd Spark jobs; want <=2")
    val del = jobsInGroup("del-two") { lake.sql("DELETE FROM du WHERE id % 2 = 1") }
    assert(del <= 2, s"DELETE ran $del Spark jobs; want <=2")
    assert(lake.sql("SELECT count(*) AS c, sum(qty) AS s FROM du").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((20L, (1 to 20).map(_ + 1).sum.toLong)))
  }

  test("addDataFiles of flat parquet files runs no Spark job") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val (lake, _, data) = freshLake()
    lake.sql("CREATE TABLE reg3(id INTEGER, v VARCHAR)")
    val paths = (1 to 3).map { i =>
      val tmp = Files.createTempDirectory("reg3").resolve("out").toString
      Seq((i, s"v$i"), (i * 10, s"w$i")).toDF("id", "v").coalesce(1).write.parquet(tmp)
      val part = Files.list(java.nio.file.Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(data, s"reg3_$i.parquet")
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      dest.toString
    }
    val jobs = jobsInGroup("add-files") { lake.addDataFiles("reg3", paths) }
    assert(jobs == 0, s"addDataFiles ran $jobs Spark jobs; want 0")
    assert(lake.sql("SELECT sum(id) AS s FROM reg3").collect()(0).getLong(0) == 66L)
    val cs = lake.columnStats("reg3").collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getString(3)))).toMap
    assert(cs("id") == (("1", "30")))
  }

  test("WHERE-less DELETE (and TRUNCATE) is metadata-only: zero Spark jobs") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE tr(id INTEGER)")
    for (i <- 1 to 5) lake.sql(s"INSERT INTO tr VALUES ($i)")
    val jobs = jobsInGroup("trunc") { lake.sql("TRUNCATE tr") }
    assert(jobs == 0, s"TRUNCATE ran $jobs Spark jobs; want 0")
    assert(lake.sql("SELECT count(*) AS c FROM tr").collect()(0).getLong(0) == 0L)
  }

  test("CREATE VIEW persists in the workbook and survives reopen") {
    val (lake, xlsx, data) = freshLake()
    lake.sql(
      """CREATE TABLE vt(id INTEGER, v VARCHAR);
        |INSERT INTO vt VALUES (1,'a'),(2,'b'),(3,'c');
        |CREATE VIEW big AS SELECT id, upper(v) AS vu FROM vt WHERE id >= 2""".stripMargin)
    assert(lake.sql("SELECT * FROM big ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((2, "B"), (3, "C")))
    // view definition round-trips through the xlsx catalog
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    assert(reopened.sql("SELECT * FROM big ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((2, "B"), (3, "C")))
    // OR REPLACE swaps the definition; plain CREATE on an existing name throws
    lake.sql("CREATE OR REPLACE VIEW big AS SELECT id FROM vt WHERE id = 1")
    assert(lake.sql("SELECT * FROM big").collect().map(_.getInt(0)).toSeq == Seq(1))
    assertThrows[IllegalArgumentException](
      lake.sql("CREATE VIEW big AS SELECT 1 AS x"))
    lake.sql("DROP VIEW big")
    assert(lake.currentState.viewByName("big").isEmpty)
    assertThrows[Exception](lake.sql("SELECT * FROM big"))
  }

  test("INSERT with explicit column list fills unlisted columns with NULL") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE ci(id INTEGER, qty INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO ci(v, id) VALUES ('a', 1)")
    lake.sql("INSERT INTO ci(id) VALUES (2)")
    val rows = lake.sql("SELECT * FROM ci ORDER BY id").collect()
    assert(rows.map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1),
      Option(r.getString(2)).getOrElse("-"))).toSeq ==
      Seq((1, -1, "a"), (2, -1, "-")))
    // unknown column in the list is rejected
    assertThrows[IllegalArgumentException](
      lake.sql("INSERT INTO ci(nope) VALUES (1)"))
  }

  test("qualified names resolve through sql() (README.md:70)") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE q(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO q VALUES (1,'a'),(2,'b')")
    assert(lake.sql("USE my_ducklake; SELECT id FROM my_ducklake.main.q ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(lake.sql("SELECT id FROM main.q WHERE v = 'b'")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    // qualifier text inside a string literal is untouched
    assert(lake.sql("SELECT 'main.q' AS s FROM q WHERE id = 1")
      .collect()(0).getString(0) == "main.q")
  }

  test("SQL time travel: VERSION AS OF and AT (VERSION => n) (README.md:162)") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE tt(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO tt VALUES (1,'a'),(2,'b'),(3,'c')")
    val s1 = lake.currentState.currentSnapshot
    lake.sql("DELETE FROM tt WHERE id <= 2")
    assert(lake.sql(s"SELECT id FROM tt VERSION AS OF $s1 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(lake.sql(s"SELECT id FROM tt AT (VERSION => $s1) ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(lake.sql("SELECT id FROM tt ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("metadata SQL: SHOW TABLES, DESCRIBE, snapshots()") {
    val (lake, _, _) = freshLake()
    lake.sql(
      """CREATE TABLE mt(id INTEGER, v VARCHAR);
        |CREATE VIEW mv AS SELECT id FROM mt""".stripMargin)
    assert(lake.sql("SHOW TABLES").collect().map(_.getString(0)).toSeq ==
      Seq("mt", "mv"))
    assert(lake.sql("DESCRIBE mt").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("id", "INTEGER"), ("v", "VARCHAR")))
    assert(lake.sql("SELECT count(*) AS c FROM snapshots()")
      .collect()(0).getLong(0) >= 2L)
    // the ducklake_snapshot_changes audit trail labels every mutation
    val changes = lake.sql("SELECT changes FROM snapshots() ORDER BY snapshot_id")
      .collect().map(_.getString(0)).toSeq
    assert(changes.contains("created_table:mt"), changes.mkString(","))
    assert(changes.contains("created_view:mv"), changes.mkString(","))
    lake.sql("INSERT INTO mt VALUES (1,'a')")
    assert(lake.sql("SELECT changes FROM snapshots() ORDER BY snapshot_id DESC LIMIT 1")
      .collect()(0).getString(0) == "inserted_into_table:mt")
  }

  test("ALTER TABLE: rename, add column (old files scan as NULL), drop column") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE at(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO at VALUES (1,'a'),(2,'b')")
    val preAlter = lake.currentState.currentSnapshot
    // add a column: existing file lacks it -> NULL; new inserts carry it
    lake.sql("ALTER TABLE at ADD COLUMN qty INTEGER")
    lake.sql("INSERT INTO at VALUES (3,'c',30)")
    val rows = lake.sql("SELECT id, qty FROM at ORDER BY id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(rows == Seq((1, -1), (2, -1), (3, 30)))
    // drop it again: schema stops projecting, time travel still sees it
    lake.sql("ALTER TABLE at DROP COLUMN qty")
    assert(lake.sql("SELECT * FROM at WHERE id = 3").columns.toSeq == Seq("id", "v"))
    assert(lake.tableAt("at", preAlter).columns.toSeq == Seq("id", "v"))
    // rename: new name answers, old name gone, history intact
    lake.sql("ALTER TABLE at RENAME TO at2")
    assert(lake.sql("SELECT count(*) AS c FROM at2").collect()(0).getLong(0) == 3L)
    assertThrows[Exception](lake.sql("SELECT * FROM at"))
    assert(lake.currentState.tableByName("at", preAlter).isDefined)
    // renaming to an existing name is rejected
    assertThrows[IllegalArgumentException](
      lake.sql("ALTER TABLE at2 RENAME COLUMN v TO id"))
  }

  test("RENAME COLUMN: old files answer under the new name, DML crosses epochs") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE rc(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO rc VALUES (1,'a'),(2,'b')") // physical name: v
    val preRename = lake.currentState.currentSnapshot
    lake.sql("ALTER TABLE rc RENAME COLUMN v TO label")
    lake.sql("INSERT INTO rc VALUES (3,'c')")          // physical name: label
    // scan unions both name epochs under the current name
    assert(lake.sql("SELECT id, label FROM rc ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    // filters/DML on the renamed column reach pre-rename files too
    assert(lake.sql("SELECT id FROM rc WHERE label = 'b'").collect()
      .map(_.getInt(0)).toSeq == Seq(2))
    lake.sql("UPDATE rc SET label = 'z' WHERE id = 1")
    lake.sql("DELETE FROM rc WHERE label = 'b'")
    assert(lake.sql("SELECT id, label FROM rc ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "z"), (3, "c")))
    // time travel still shows the old name
    assert(lake.tableAt("rc", preRename).columns.toSeq == Seq("id", "v"))
    // and everything round-trips through the workbook
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    assert(reopened.sql("SELECT id, label FROM rc ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "z"), (3, "c")))
  }

  test("MERGE INTO: update matched, insert not-matched, delete matched") {
    val (lake, _, _) = freshLake()
    lake.sql(
      """CREATE TABLE mtgt(id INTEGER, qty INTEGER, v VARCHAR);
        |INSERT INTO mtgt VALUES (1,10,'a'),(2,20,'b');
        |CREATE TABLE msrc(id INTEGER, qty INTEGER);
        |INSERT INTO msrc VALUES (2,99),(3,30)""".stripMargin)
    val before = lake.currentState.currentSnapshot
    lake.sql(
      """MERGE INTO mtgt USING msrc ON mtgt.id = msrc.id
        |WHEN MATCHED THEN UPDATE SET qty = msrc.qty + 1
        |WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (msrc.id, msrc.qty)""".stripMargin)
    val rows = lake.sql("SELECT * FROM mtgt ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1), Option(r.getString(2)).getOrElse("-"))).toSeq
    assert(rows == Seq((1, 10, "a"), (2, 100, "b"), (3, 30, "-")))
    // time travel still answers the pre-merge state
    assert(lake.tableAt("mtgt", before).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // delete-on-match variant
    lake.sql("MERGE INTO mtgt USING msrc ON mtgt.id = msrc.id WHEN MATCHED THEN DELETE")
    assert(lake.sql("SELECT id FROM mtgt ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1))
    // table stats track net row changes through the merges
    val st = lake.currentState.tableStats
      .find(_.tableId == lake.currentState.tableByName("mtgt").get.tableId).get
    assert(st.recordCount == 1L)
  }

  test("compact merges many groups in a constant number of Spark jobs") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE cp(id INTEGER, v VARCHAR)")
    for (i <- 1 to 24) lake.sql(s"INSERT INTO cp VALUES ($i, 'r$i')")
    val t = lake.currentState.tableByName("cp").get
    val sz = lake.currentState.filesOf(t.tableId).map(_.fileSizeBytes).max
    // pick a target fitting ~4 files per group -> ~6 merge groups
    val jobs = jobsInGroup("compact-const") { lake.compact("cp", sz * 4 + 1) }
    assert(jobs <= 3, s"compact ran $jobs Spark jobs; want <=3 (rewrite, stats)")
    val after = lake.currentState.filesOf(t.tableId)
    assert(after.size < 24 && after.size >= 5, s"got ${after.size} files")
    assert(lake.sql("SELECT count(*) AS c FROM cp").collect()(0).getLong(0) == 24L)
    assert(lake.sql("SELECT sum(id) AS s FROM cp").collect()(0).getLong(0) == 300L)
  }

  test("compact runs at most 2 Spark jobs") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE cp2(id INTEGER, v VARCHAR)")
    for (i <- 1 to 12) lake.sql(s"INSERT INTO cp2 VALUES ($i, 'r$i')")
    val t = lake.currentState.tableByName("cp2").get
    val sz = lake.currentState.filesOf(t.tableId).map(_.fileSizeBytes).max
    val jobs = jobsInGroup("compact-two") { lake.compact("cp2", sz * 4 + 1) }
    assert(jobs <= 2, s"compact ran $jobs Spark jobs; want <=2")
    assert(lake.currentState.filesOf(t.tableId).size < 12)
    assert(lake.sql("SELECT sum(id) AS s FROM cp2").collect()(0).getLong(0) == 78L)
  }

  test("CREATE OR REPLACE TABLE swaps contents; COPY TO exports one file") {
    val (lake, _, data) = freshLake()
    lake.sql("CREATE TABLE cr(id INTEGER, v VARCHAR); INSERT INTO cr VALUES (1,'a')")
    lake.sql("CREATE OR REPLACE TABLE cr(id INTEGER, n INTEGER); INSERT INTO cr VALUES (2, 20)")
    val rows = lake.sql("SELECT * FROM cr").collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((2, 20)))
    // COPY a table and a query, csv + parquet
    val csv = s"$data/out/cr.csv"
    lake.sql(s"COPY cr TO '$csv'")
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(csv))
    assert(lines.size == 2 && lines.get(0) == "id,n" && lines.get(1) == "2,20")
    val pq = s"$data/out/q.parquet"
    lake.sql(s"COPY (SELECT id * 10 AS x FROM cr) TO '$pq' (FORMAT parquet)")
    assert(spark.read.parquet(pq).collect().map(_.getInt(0)).toSeq == Seq(20))
    // and round-trip back in: COPY FROM ingests through the insert path
    lake.sql(s"COPY cr FROM '$csv'")
    assert(lake.sql("SELECT count(*) AS c FROM cr").collect()(0).getLong(0) == 2L)
    assert(lake.sql("SELECT sum(n) AS s FROM cr").collect()(0).getLong(0) == 40L)
  }

  test("EXPLAIN returns the physical plan as rows") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE ex(id INTEGER, v VARCHAR); INSERT INTO ex VALUES (1,'a')")
    val p = lake.sql("EXPLAIN SELECT v FROM ex WHERE id = 1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(p.contains("Physical Plan"), p.take(400))
    assert(p.contains("Scan parquet"), p.take(400))
  }

  test("tableStream follows INSERTs on an append-only table") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE st(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO st VALUES (1,'a')")
    val q = lake.tableStream("st")
      .writeStream.format("memory").queryName("st_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      lake.sql("INSERT INTO st VALUES (2,'b'),(3,'c')")
      q.processAllAvailable()
      val seen = spark.sql("SELECT id FROM st_sink ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
      assert(seen == Seq(1, 2, 3))
    } finally q.stop()
  }

  test("partitioned table: per-value files, catalog values, plan-time pruning") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE pp(id INTEGER, region VARCHAR)")
    lake.sql("ALTER TABLE pp SET PARTITIONED BY (region)")
    lake.sql("INSERT INTO pp VALUES (1,'eu'),(2,'us'),(3,'eu'),(4,'ap')")
    val t = lake.currentState.tableByName("pp").get
    val files = lake.currentState.filesOf(t.tableId)
    assert(files.size == 3, s"one file per partition value; got ${files.size}")
    val pv = lake.currentState.partitionValuesOf(t.tableId)
    assert(files.forall(f => pv.get(f.dataFileId).exists(_.contains("region"))),
      "every data file must carry its ducklake_file_partition_value row")
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.map(_.metrics("numFiles").value).sum
      }
      // partition-value pruning: the filtered scan reads strictly fewer files
      assert(scannedFiles(lake.table("pp").where("region = 'eu'")) == 1L)
      assert(scannedFiles(lake.table("pp")) == 3L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(lake.sql("SELECT id FROM pp WHERE region = 'eu' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // spec + values survive a reopen from the workbook alone
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    assert(reopened.currentState.partitionColumnsOf(t.tableId).map(_.columnName)
      == Vector("region"))
    reopened.sql("INSERT INTO pp VALUES (5,'eu')")
    assert(reopened.sql("SELECT count(*) AS c FROM pp WHERE region = 'eu'")
      .collect()(0).getLong(0) == 3L)
  }

  test("partition values prune with NO stats rows (foreign-writer shape)") {
    import graft.lake.{DataFileRow, DuckLakeFileIndex}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val files = Seq(
      DataFileRow(1, 1, 0, None, "/f1", 10, 100),
      DataFileRow(2, 1, 0, None, "/f2", 10, 100))
    val idx = new DuckLakeFileIndex(files, Map.empty,
      Map(1L -> Map("region" -> "eu"), 2L -> Map("region" -> "us")))
    val region = AttributeReference("region", StringType)()
    def listed(e: Expression): Seq[String] =
      idx.listFiles(Nil, Seq(e)).head.files.map(_.getPath.toString).toSeq
    assert(listed(EqualTo(region, Literal.create("eu", StringType))) == Seq("/f1"))
    assert(listed(In(region, Seq(Literal.create("us", StringType)))) == Seq("/f2"))
    // a NULL literal in the filter must keep files, not NPE (r3 advice)
    val id = AttributeReference("id", IntegerType)()
    assert(listed(In(id, Seq(Literal.create(1, IntegerType),
      Literal.create(null, IntegerType)))).size == 2)
    // r5 verdict #1: a partition VALUE is no evidence about nulls — a NULL
    // partition value is recorded as an empty string at write time, so
    // `WHERE part_col IS NULL` must keep every file that lacks a genuine
    // stats row, even though the fabricated interval claims nullCount=0.
    assert(listed(IsNull(region)).size == 2,
      "IsNull over a partition-valued column must never prune on the " +
        "fabricated partition-value stats row")
    // ... while a REAL stats row proving zero nulls still prunes:
    import graft.lake.FileColumnStatsRow
    val withStats = new DuckLakeFileIndex(files,
      Map(1L -> Map("region" -> FileColumnStatsRow(1, 1, 10, Some("eu"), Some("eu"), 0)),
        2L -> Map("region" -> FileColumnStatsRow(2, 1, 10, Some("us"), Some("us"), 3))),
      Map(1L -> Map("region" -> "eu"), 2L -> Map("region" -> "us")))
    def listedS(e: Expression): Seq[String] =
      withStats.listFiles(Nil, Seq(e)).head.files.map(_.getPath.toString).toSeq
    assert(listedS(IsNull(region)) == Seq("/f2"),
      "a genuine nullCount=0 stats row may prune IS NULL; nullCount=3 keeps")
    assert(listedS(IsNotNull(region)).contains("/f1"))
  }

  test("timestamp time travel resolves latest snapshot_time <= ts") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE tts(id INTEGER); INSERT INTO tts VALUES (1),(2)")
    val tPre = lake.currentState.snapshots.last.snapshotTime
    Thread.sleep(1100) // snapshot times are second-resolution
    lake.sql("DELETE FROM tts WHERE id = 1")
    assert(lake.tableAtTime("tts", tPre).collect().length == 2)
    assert(lake.sql(s"SELECT id FROM tts AT (TIMESTAMP => '$tPre') ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(lake.sql("SELECT id FROM tts AT (TIMESTAMP => '2100-01-01') ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(lake.sql("SELECT id FROM tts TIMESTAMP AS OF '2100-01-01' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    assertThrows[IllegalArgumentException](
      lake.sql("SELECT * FROM tts AT (TIMESTAMP => '1990-01-01')"))
  }

  test("information_schema + ATTACH replay the reference init (ducklakexl.py:236)") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE ist(id INTEGER, v VARCHAR); CREATE VIEW isv AS SELECT id FROM ist")
    val names = lake.sql(
      s"""ATTACH 'ducklake:$xlsx' AS my_ducklake (DATA_PATH '$data');
         |SELECT table_name FROM information_schema.tables
         |WHERE table_catalog LIKE '__ducklake_metadata_my_ducklake'
         |ORDER BY table_name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    // 20 = the full DuckLake spec table set (r7: column_mapping +
    // name_mapping joined the interpreted 18)
    assert(names.size == 20 && names.contains("ducklake_snapshot") &&
      names.contains("ducklake_partition_info") &&
      names.contains("ducklake_snapshot_changes") &&
      names.contains("ducklake_column_mapping") &&
      names.contains("ducklake_name_mapping") &&
      names.contains("ducklake_files_scheduled_for_deletion"), names.mkString(","))
    val user = lake.sql(
      """SELECT table_name, table_type FROM information_schema.tables
        |WHERE table_catalog = 'my_ducklake' ORDER BY table_name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(user == Seq(("ist", "BASE TABLE"), ("isv", "VIEW")))
    val cols = lake.sql(
      """SELECT column_name, data_type, ordinal_position FROM information_schema.columns
        |WHERE table_name = 'ist' ORDER BY ordinal_position""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(cols == Seq(("id", "INTEGER", 1L), ("v", "VARCHAR", 2L)))
    // attaching under a DIFFERENT lake name is a user error; DETACH no-ops
    assertThrows[IllegalArgumentException](
      lake.sql("ATTACH 'ducklake:x.xlsx' AS other_lake"))
    lake.sql("DETACH my_ducklake")
  }

  test("qualified names pass through rewriteSelect untouched (DSv2 resolves)") {
    val (lake, _, _) = freshLake()
    assert(lake.rewriteSelect("""SELECT "main.t" FROM x""") ==
      """SELECT "main.t" FROM x""")
    // the old regex strip is GONE: qualified names resolve in the catalog,
    // and an alias legitimately named `main` is no longer mangled
    assert(lake.rewriteSelect("SELECT main.t.id FROM main.t") ==
      "SELECT main.t.id FROM main.t")
    assert(lake.rewriteSelect("SELECT main.id FROM orders_x main") ==
      "SELECT main.id FROM orders_x main")
    assert(lake.rewriteSelect("SELECT 'main.t' AS s FROM my_ducklake.main.t") ==
      "SELECT 'main.t' AS s FROM my_ducklake.main.t")
    // qualified travel normalizes to the NATIVE spelling, bare travel pins
    assert(lake.rewriteSelect("SELECT * FROM my_ducklake.main.t AT (VERSION => 3)") ==
      "SELECT * FROM my_ducklake.main.t VERSION AS OF 3")
  }

  test("DELETE keeps rows where the predicate evaluates to NULL") {
    val (lake, _, _) = freshLake()
    lake.sql("CREATE TABLE dn(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO dn VALUES (1,'x'),(2,NULL),(3,'y')")
    lake.sql("DELETE FROM dn WHERE v = 'x'")
    assert(lake.sql("SELECT id FROM dn ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3))
    val t = lake.currentState.tableByName("dn").get
    assert(lake.currentState.tableStats.find(_.tableId == t.tableId).get.recordCount == 2L)
  }

  test("MERGE errors when a target row is matched by multiple source rows") {
    val (lake, _, _) = freshLake()
    lake.sql(
      """CREATE TABLE md(id INTEGER, qty INTEGER);
        |INSERT INTO md VALUES (1,10);
        |CREATE TABLE ms2(id INTEGER, qty INTEGER);
        |INSERT INTO ms2 VALUES (1,1),(1,2)""".stripMargin)
    assertThrows[IllegalArgumentException](lake.sql(
      "MERGE INTO md USING ms2 ON md.id = ms2.id WHEN MATCHED THEN UPDATE SET qty = ms2.qty"))
    // and MERGE records matched-row tombstone provenance on success
    lake.sql(
      """CREATE TABLE ms3(id INTEGER, qty INTEGER);
        |INSERT INTO ms3 VALUES (1,99);
        |MERGE INTO md USING ms3 ON md.id = ms3.id WHEN MATCHED THEN UPDATE SET qty = ms3.qty""".stripMargin)
    assert(lake.sql("SELECT qty FROM md").collect()(0).getInt(0) == 99)
    assert(lake.currentState.deleteFiles.lastOption.exists(_.deleteCount == 1L))
  }

  test("COMMENT ON persists as DuckLake tags and answers via information_schema") {
    val (lake, xlsx, data) = freshLake()
    lake.sql(
      """CREATE TABLE cm(id INTEGER, v VARCHAR);
        |COMMENT ON TABLE cm IS 'the fact table';
        |COMMENT ON COLUMN cm.id IS 'primary key'""".stripMargin)
    def tComment(l: DuckLakeXLSpark): String =
      l.sql("SELECT comment FROM information_schema.tables WHERE table_name = 'cm'")
        .collect()(0).getString(0)
    def cComment(l: DuckLakeXLSpark): String =
      l.sql("SELECT comment FROM information_schema.columns WHERE column_name = 'id'")
        .collect()(0).getString(0)
    assert(tComment(lake) == "the fact table")
    assert(cComment(lake) == "primary key")
    // re-comment replaces (old value's lifetime ends); survives reopen
    lake.sql("COMMENT ON TABLE cm IS 'it''s the fact table'")
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    assert(tComment(reopened) == "it's the fact table")
    // IS NULL clears
    reopened.sql("COMMENT ON TABLE cm IS NULL")
    assert(reopened.sql(
      "SELECT comment IS NULL AS n FROM information_schema.tables WHERE table_name = 'cm'")
      .collect()(0).getBoolean(0))
  }

  test("data inlining: tiny INSERT is metadata-only (0 jobs); DML flushes first") {
    val dir = Files.createTempDirectory("lake_inline").toString
    val lake = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data",
      inlineRowLimit = 10)
    lake.sql("CREATE TABLE il(id INTEGER, v VARCHAR)")
    val jobs = jobsInGroup("inline-ins") {
      lake.sql("INSERT INTO il VALUES (1,'a'),(2,'b')")
    }
    assert(jobs == 0, s"inlined INSERT ran $jobs Spark jobs; want 0")
    val t = lake.currentState.tableByName("il").get
    assert(lake.currentState.filesOf(t.tableId).isEmpty, "no data file for inlined rows")
    assert(lake.currentState.inlinedOf(t.tableId).size == 2)
    assert(lake.sql("SELECT id, v FROM il ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (2, "b")))
    // the rows live in the workbook: a fresh instance answers from it alone
    val reopened = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data",
      inlineRowLimit = 10)
    assert(reopened.sql("SELECT count(*) AS c FROM il").collect()(0).getLong(0) == 2L)
    // an insert past the limit writes a real file as usual
    lake.sql("INSERT INTO il VALUES " + (3 to 20).map(i => s"($i,'x$i')").mkString(","))
    assert(lake.currentState.filesOf(t.tableId).size == 1)
    val preFlush = lake.currentState.currentSnapshot
    // DML flushes the inlined rows to parquet, then applies file-based CoW
    lake.sql("DELETE FROM il WHERE id = 1")
    assert(lake.currentState.inlinedOf(t.tableId).isEmpty)
    assert(lake.sql("SELECT count(*) AS c FROM il").collect()(0).getLong(0) == 19L)
    // time travel before the flush still reads the rows from the catalog
    assert(lake.tableAt("il", preFlush).count() == 20L)
    // stats tracked across inline + flush + delete
    assert(lake.currentState.tableStats.find(_.tableId == t.tableId).get.recordCount == 19L)
  }

  test("expireSnapshots schedules unreachable files; vacuum deletes them") {
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE ex1(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO ex1 VALUES (1,'a'),(2,'b'),(3,'c')")
    lake.sql("DELETE FROM ex1 WHERE id = 2") // copy-on-write: old file dies
    val t = lake.currentState.tableByName("ex1").get
    val preExpire = lake.currentState.currentSnapshot
    val deadPaths = lake.currentState.dataFiles
      .filter(_.endSnapshot.isDefined).map(_.path)
    assert(deadPaths.nonEmpty)
    assert(deadPaths.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    lake.expireSnapshots(preExpire)
    // scheduled, still on disk (two-phase), live data unaffected
    assert(lake.currentState.scheduledDeletes.map(_.path).toSet == deadPaths.toSet)
    assert(deadPaths.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(lake.sql("SELECT id FROM ex1 ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    // expired history is gone, and says so
    assertThrows[IllegalArgumentException](lake.tableAt("ex1", preExpire - 1))
    // the schedule survives the workbook round trip, then vacuum deletes
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    assert(reopened.vacuum() == deadPaths.size)
    assert(deadPaths.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(reopened.vacuum() == 0)
    assert(reopened.sql("SELECT id FROM ex1 ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    // live files were never scheduled
    assert(reopened.currentState.filesOf(t.tableId).nonEmpty)
  }

  test("unknown metadata sheets survive pull/push (SURVEY §1.2)") {
    import graft.xlsx.XlsxCodec
    // (r4: partition/tag/inline sheets are now INTERPRETED; r7 interprets
    // column_mapping/name_mapping too — 20/20 spec tables — so a sheet
    // from a FUTURE spec revision proves the pass-through now)
    val extra = ("future_spec_sheet",
      Seq(Seq("some_id", "name"), Seq("7", "gold")))
    val (lake, xlsx, data) = freshLake()
    lake.sql("CREATE TABLE et(id INTEGER)")
    // a foreign tool adds a sheet the catalog does not interpret
    XlsxCodec.write(xlsx, XlsxCodec.read(xlsx) :+ extra)
    // full pull/push cycles must carry it verbatim
    lake.sql("INSERT INTO et VALUES (1)")
    lake.sql("INSERT INTO et VALUES (2)")
    def sheetOf(p: String) = XlsxCodec.read(p).find(_._1 == "future_spec_sheet").map(_._2)
    assert(sheetOf(xlsx).contains(extra._2))
    // and it survives a reopen from disk
    val reopened = new DuckLakeXLSpark(spark, xlsx, data)
    reopened.sql("INSERT INTO et VALUES (3)")
    assert(sheetOf(xlsx).contains(extra._2))
  }

  test("file stats collect in bounded batches (chunked fileStatsAll, r5 #8)") {
    import graft.xlsx.XlsxCodec
    val (lake, xlsx, _) = freshLake()
    // force multi-batch: 2 files per stats job, with a many-file INSERT
    val prev = spark.conf.getOption("spark.graft.fileStatsBatch")
    spark.conf.set("spark.graft.fileStatsBatch", "2")
    try {
      lake.sql("CREATE TABLE big(id INTEGER)")
      // DISTRIBUTE BY spreads the 50 rows across shuffle partitions ->
      // one part-file per non-empty partition, well above the batch width
      // (AQE off for the INSERT: it would coalesce the tiny shuffle to 1)
      val aqePrev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try lake.sql("INSERT INTO big SELECT CAST(range AS INTEGER) AS id FROM range(0, 50) DISTRIBUTE BY id")
      finally spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
      def sheet(n: String): Seq[Seq[String]] =
        XlsxCodec.read(xlsx).find(_._1 == n).map(_._2).getOrElse(Seq.empty)
      val df = sheet("data_file")
      val hdr = df.head
      val rc = df.tail.filter(_.exists(_.nonEmpty))
        .map(r => r(hdr.indexOf("record_count")).toDouble.toLong)
      assert(rc.sum == 50L, s"record counts $rc must sum to 50")
      assert(rc.count(_ > 0) > 2, "need more non-empty files than the batch width")
      // per-file stats exist for every non-empty file, across ALL batches
      val fcs = sheet("file_column_statistics")
      val fh = fcs.head
      val statFileIds = fcs.tail.filter(_.exists(_.nonEmpty))
        .map(r => r(fh.indexOf("data_file_id")).toDouble.toLong).toSet
      val fileIds = df.tail.filter(_.exists(_.nonEmpty))
        .filter(r => r(hdr.indexOf("record_count")).toDouble.toLong > 0)
        .map(r => r(hdr.indexOf("data_file_id")).toDouble.toLong).toSet
      assert(fileIds.subsetOf(statFileIds),
        s"files missing stats: ${fileIds -- statFileIds}")
      // and the derived table-level stats are right
      val cs = lake.columnStats("big").collect()
        .map(r => r.getString(0) -> ((r.getString(2), r.getString(3)))).toMap
      assert(cs("id") == (("0", "49")))
      assert(lake.sql("SELECT sum(id) AS s FROM big").collect()(0).getLong(0) == 1225L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.fileStatsBatch", v)
        case None => spark.conf.unset("spark.graft.fileStatsBatch")
      }
    }
  }

  test("file stats a footer cannot answer collect in bounded batches (TIMESTAMP column)") {
    import graft.xlsx.XlsxCodec
    val (lake, xlsx, _) = freshLake()
    // TIMESTAMPTZ is written as INT96, which carries no usable bounds, so
    // every file reaches the stats job: 2 files per job
    val prev = spark.conf.getOption("spark.graft.fileStatsBatch")
    spark.conf.set("spark.graft.fileStatsBatch", "2")
    try {
      lake.sql("CREATE TABLE bigts(id INTEGER, ts TIMESTAMPTZ)")
      val aqePrev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val jobs = try jobsInGroup("ts-batches") {
        lake.sql("INSERT INTO bigts SELECT CAST(range AS INTEGER) AS id, " +
          "timestamp_seconds(range * 3600) AS ts FROM range(0, 50) DISTRIBUTE BY id")
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
      val t = lake.currentState.tableByName("bigts").get
      val files = lake.currentState.filesOf(t.tableId)
      assert(files.map(_.recordCount).sum == 50L)
      assert(files.count(_.recordCount > 0) > 2, "need more non-empty files than the batch width")
      assert(jobs >= 1 + (files.size + 1) / 2,
        s"INSERT ran $jobs Spark jobs for ${files.size} files")
      // every non-empty file has bounds for both columns, across ALL batches
      val fcs = XlsxCodec.read(xlsx).find(_._1 == "file_column_statistics").map(_._2).get
      val fh = fcs.head
      val bounded = fcs.tail.filter(_.exists(_.nonEmpty))
        .filter(r => r(fh.indexOf("min_value")).nonEmpty && r(fh.indexOf("max_value")).nonEmpty)
        .map(r => r(fh.indexOf("data_file_id")).toDouble.toLong)
      files.filter(_.recordCount > 0).foreach(f =>
        assert(bounded.count(_ == f.dataFileId) == 2, s"file ${f.dataFileId} lacks bounds"))
      val cs = lake.columnStats("bigts").collect()
        .map(r => r.getString(0) -> ((r.getString(2), r.getString(3)))).toMap
      assert(cs("id") == (("0", "49")))
      assert(cs("ts")._1.startsWith("1970-01-01 00:00:00") &&
        cs("ts")._2.startsWith("1970-01-03 01:00:00"), s"ts bounds ${cs("ts")}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.fileStatsBatch", v)
        case None => spark.conf.unset("spark.graft.fileStatsBatch")
      }
    }
  }
}
