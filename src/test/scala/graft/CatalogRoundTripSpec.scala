package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.api.DuckLakeXLSpark
import graft.lake.{CatalogState, XlsxSheet}
import graft.xlsx.XlsxCodec

/** The catalog a writer holds after a statement is the one every reader
  * pulls from its workbook. A session that reuses its own catalog while the
  * workbook is unchanged depends on it: a value that reads back differently
  * would otherwise last for the whole session. The battery writes the texts
  * a pull reads as NULL ('', blanks, 'None', 'nan', '<NA>', 'NaT') into
  * every place a value is made: min/max stats, partition values, inlined
  * rows, comments and defaults.
  */
class CatalogRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nullish = Seq("", " ", "None", "nan", "<NA>", "NaT")

  private def pulled(xlsx: String): CatalogState =
    CatalogState.fromSheets(XlsxCodec.read(xlsx).map { case (n, r) => XlsxSheet(n, r) })

  /** the fields in which two states differ, with both values */
  private def diff(a: CatalogState, b: CatalogState): Seq[String] =
    a.productElementNames.zip(a.productIterator.zip(b.productIterator))
      .collect { case (n, (x, y)) if x != y => s"$n:\n  held   $x\n  pulled $y" }.toSeq

  test("after every write the writer's catalog equals a pull of its workbook") {
    val dir = Files.createTempDirectory("graft_roundtrip").toString
    val xlsx = s"$dir/lake.xlsx"
    val lake = new DuckLakeXLSpark(spark, xlsx, s"$dir/data", inlineRowLimit = 2)
    def q(v: String) = "'" + v.replace("'", "''") + "'"
    val stmts = Seq(
      "CREATE TABLE s(id INTEGER, v VARCHAR, w VARCHAR DEFAULT '')",
      "CREATE TABLE p(k VARCHAR, x INTEGER); ALTER TABLE p SET PARTITIONED BY (k)") ++
      // three rows are past the inline limit: a data file whose stats are v
      nullish.zipWithIndex.map { case (v, i) =>
        s"INSERT INTO s VALUES ($i, ${q(v)}, ${q(v)}), ($i, ${q(v)}, ${q(v)}), ($i, ${q(v)}, NULL)" } ++
      Seq("INSERT INTO s VALUES (7, '', 'z'), (8, 'a', ''), (9, 'None', 'b')") ++
      // one row each: inlined, trailing and leading blank cells included
      Seq("INSERT INTO s VALUES (10, NULL, NULL)", "INSERT INTO s VALUES (NULL, 'x', NULL)",
        "INSERT INTO s (id) VALUES (12)") ++
      nullish.map(v => s"INSERT INTO s VALUES (11, ${q(v)}, ${q(v)})") ++
      nullish.zipWithIndex.map { case (v, i) => s"INSERT INTO p VALUES (${q(v)}, $i)" } ++
      Seq("INSERT INTO p VALUES (NULL, 9)",
        "UPDATE s SET v = 'None' WHERE id = 7",
        "DELETE FROM s WHERE id = 8") ++
      nullish.flatMap(v => Seq(
        s"COMMENT ON TABLE s IS ${q(v)}",
        s"COMMENT ON COLUMN s.v IS ${q(v)}",
        s"ALTER TABLE s ALTER COLUMN w SET DEFAULT ${q(v)}")) ++
      Seq("ALTER TABLE s ADD COLUMN u VARCHAR DEFAULT 'NaT'",
        "INSERT INTO s (id) VALUES (13)",
        "INSERT INTO s (id) VALUES (14), (15), (16)")
    assert(diff(lake.currentState, pulled(xlsx)).isEmpty, "after bootstrap")
    stmts.foreach { stmt =>
      lake.sql(stmt)
      val d = diff(lake.currentState, pulled(xlsx))
      assert(d.isEmpty, s"after `$stmt`:\n${d.mkString("\n")}")
    }
    // the rows themselves: a reader on the workbook alone answers the same
    val reader = new DuckLakeXLSpark(spark, xlsx, s"$dir/data", inlineRowLimit = 2)
    for (sel <- Seq("SELECT * FROM s", "SELECT * FROM p")) {
      val mine = lake.sql(sel).collect().map(_.toString).sorted.toSeq
      assert(reader.sql(sel).collect().map(_.toString).sorted.toSeq == mine, sel)
    }
  }
}
