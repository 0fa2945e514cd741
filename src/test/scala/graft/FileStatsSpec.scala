package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.DuckLakeXLSpark
import graft.lake.{CatalogState, FileStats}

/** Differential spec of the write-path file statistics: the catalog row
  * of every file the lake writes equals a reference computed here over
  * that one file, `min(c)`/`max(c)` cast to string, the null count and
  * `count(1)`. Files whose footers answer must do so without a Spark job;
  * each known footer miss must reach the job and still match.
  */
class FileStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshLake(): DuckLakeXLSpark = {
    val dir = Files.createTempDirectory("lake_fstats").toString
    new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data")
  }

  private def jobsIn(group: String)(body: => Unit): Int = {
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

  /** asserts the catalog stats of every live file of `table` equal the
    * reference; returns the number of Spark jobs [[FileStats.collect]]
    * runs to recompute them
    */
  private def checkStats(lake: DuckLakeXLSpark, table: String): Int = {
    val st = lake.currentState
    val t = st.tableByName(table).get
    val cols = st.columnsOf(t.tableId)
    val schema = st.schemaOf(t.tableId)
    val files = st.filesOf(t.tableId)
    assert(files.nonEmpty, s"$table has no data file")
    files.foreach { f =>
      val df = spark.read.schema(schema).parquet(f.path)
      val ref = df.agg(count(lit(1)), cols.flatMap { c =>
        val x = df(s"`${c.columnName}`")
        Seq(min(x).cast(StringType), max(x).cast(StringType), count(lit(1)) - count(x))
      }: _*).head()
      assert(f.recordCount == ref.getLong(0), s"$table record count")
      cols.zipWithIndex.foreach { case (c, i) =>
        // the catalog keeps no bound for a column that has no order
        val bounded = schema(c.columnName).dataType match {
          case _: ArrayType | _: StructType | _: MapType | BinaryType => false
          case _ => true
        }
        def bound(j: Int) =
          if (bounded) Option(ref.getString(j)).flatMap(CatalogState.optValue) else None
        val want = (bound(1 + 3 * i), bound(2 + 3 * i), ref.getLong(3 + 3 * i))
        val got = st.fileColumnStats
          .find(s => s.dataFileId == f.dataFileId && s.columnId == c.columnId)
          .map(s => (s.minValue, s.maxValue, s.nullCount))
        assert(got.contains(want), s"$table.${c.columnName}")
      }
    }
    jobsIn(s"fstats-$table") { FileStats.collect(spark, files.map(_.path), schema, cols) }
  }

  test("every footer-answered type matches the stats job, with no Spark job") {
    val lake = freshLake()
    lake.sql(
      """CREATE TABLE ft(b TINYINT, sh SMALLINT, i INTEGER, l BIGINT, bo BOOLEAN,
        |  f FLOAT, d DOUBLE, s VARCHAR, dt DATE, d5 DECIMAL(5,2), d15 DECIMAL(15,3),
        |  d30 DECIMAL(30,4), ts TIMESTAMP, n INTEGER)""".stripMargin)
    lake.sql(
      """INSERT INTO ft VALUES
        |(-5, -300, -70000, -9000000000, true, -1.5, -2.25, 'é', DATE '1500-03-01',
        | -123.45, -1234567890.123, -12345678901234567890123456.7890,
        | TIMESTAMP '1500-03-01 00:00:00.000001', NULL),
        |(7, 300, 70000, 9000000000, false, 2.5, 3.75, '😀', DATE '2024-02-29',
        | 999.99, 999999999999.999, 12345678901234567890123456.7890,
        | TIMESTAMP '2024-02-29 23:59:59.999999', NULL),
        |(NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'zz', NULL, NULL, NULL, NULL, NULL, NULL)
        |""".stripMargin)
    assert(checkStats(lake, "ft") == 0)
  }

  test("a zero-row file and an all-null column take the footer path") {
    val lake = freshLake()
    lake.sql("CREATE TABLE zr(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO zr VALUES (1, NULL), (2, NULL)")
    lake.sql("INSERT INTO zr SELECT * FROM zr WHERE id < 0")
    val st = lake.currentState
    assert(st.filesOf(st.tableByName("zr").get.tableId).map(_.recordCount).sorted == Seq(0L, 2L))
    assert(checkStats(lake, "zr") == 0)
  }

  test("footer stats combine row groups: min of mins, max of maxes, summed nulls") {
    val lake = freshLake()
    lake.sql("CREATE TABLE rg(id INTEGER, s VARCHAR, x DECIMAL(9,2))")
    val key = "parquet.block.size"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    try lake.sql(
      """INSERT INTO rg SELECT CAST(range AS INTEGER),
        |  CASE WHEN range % 7 = 0 THEN NULL WHEN range % 5 = 0 THEN concat('é', range)
        |    ELSE CAST(range * 7919 % 1000 AS STRING) END,
        |  CASE WHEN range % 11 = 0 THEN NULL
        |    ELSE CAST((range * 31 % 2000) - 1000.5 AS DECIMAL(9,2)) END
        |FROM range(0, 5000)""".stripMargin)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val st = lake.currentState
    val paths = st.filesOf(st.tableByName("rg").get.tableId).map(_.path)
    assert(FileStats.readFooters(paths).values.forall(_.getBlocks.size > 1),
      "every file needs several row groups")
    assert(checkStats(lake, "rg") == 0)
  }

  private def fallback(name: String, colType: String, values: String*): Unit =
    test(s"footer miss reaches the job and matches it: $name") {
      val lake = freshLake()
      lake.sql(s"CREATE TABLE fb(id INTEGER, c $colType)")
      lake.sql("INSERT INTO fb VALUES " +
        values.zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", "))
      assert(checkStats(lake, "fb") >= 1, s"$name must not be answered by the footer")
    }

  fallback("NaN", "DOUBLE", "CAST('NaN' AS DOUBLE)", "1.5")
  fallback("0.0", "DOUBLE", "CAST('0.0' AS DOUBLE)", "1.5")
  fallback("-0.0", "DOUBLE", "CAST('-0.0' AS DOUBLE)", "-1.5")
  fallback("TIMESTAMPTZ (INT96)", "TIMESTAMPTZ",
    "TIMESTAMP '2024-01-01 10:00:00'", "TIMESTAMP '1999-01-01 00:00:00'")
  fallback("struct", "STRUCT(a INTEGER)", "named_struct('a', 1)", "NULL")
  fallback("array", "INTEGER[]", "array(1, 2)", "NULL")
  fallback("BINARY", "BLOB", "CAST('ab' AS BINARY)", "CAST('b' AS BINARY)")
  fallback("5,000-char string", "VARCHAR", "repeat('a', 5000)", "'b'")
}
