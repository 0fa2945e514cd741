package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.api.DuckLakeXLSpark
import graft.xlsx.XlsxCodec

/** Foreign-writer workbook fixture (r14 VERDICT item 7, SURVEY §7.6
  * dragon 2): the codec was spec-tested on its own inlineStr-only
  * output; `fixtures/excel_authored_lake.xlsx` is the same catalog
  * re-encoded the way EXCEL saves files — sharedStrings (t="s") with a
  * RICH-RUN entry and a PHONETIC-run entry, native t="b" booleans, bare
  * number cells, styles.xml with s= attributes on every cell, theme +
  * docProps parts, dimension/sheetViews/cols and row spans= attributes,
  * sparse rows with omitted empty cells, and Excel's mc:Ignorable xr
  * revision namespaces. Provenance: generated by
  * `Test/runMain graft.tools.MakeFixtureLake` +
  * `tools/make_excel_fixture.py` (committed); the table's rows are
  * INLINED in the catalog, so the workbook is fully self-contained.
  */
class XlsxForeignSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "fixtures/excel_authored_lake.xlsx"

  test("codec decodes the Excel-authored parts: shared strings, rich " +
      "runs, phonetic runs, t=\"b\", sparse rows") {
    val sheets = XlsxCodec.read(fixture)
    assert(sheets.nonEmpty)
    val all = sheets.flatMap(_._2).flatten
    // rich-run entry reassembles ("va" + "lue"); phonetic run is skipped
    assert(all.contains("value"), "rich-run shared string lost")
    assert(all.contains("東京 büro"), "phonetic-run shared string mangled")
    assert(!all.exists(_.contains("トウキョウ")), "phonetic run leaked into a value")
    // native booleans decode to the words the catalog stores
    assert(all.contains("true") && all.contains("false"))
  }

  test("a read-only statement leaves the workbook byte-identical, also where " +
      "re-encoding its pull would change a cell") {
    // the pulled state is pushed back as the same object, so nothing is
    // re-encoded: the first real write is what rewrites the file in the
    // codec's form
    val dir = Files.createTempDirectory("graft_foreign_ro")
    val asSaved = dir.resolve("saved.xlsx")
    Files.copy(Paths.get(fixture), asSaved)
    // Excel's native-bool spelling of 'encrypted', which the pull
    // lower-cases
    val respelled = dir.resolve("respelled.xlsx")
    XlsxCodec.write(respelled.toString, XlsxCodec.read(fixture).map {
      case ("metadata", rows) => "metadata" -> rows.map {
        case Seq("encrypted", v) => Seq("encrypted", v.capitalize)
        case r => r
      }
      case s => s
    })
    assert(XlsxCodec.readOne(respelled.toString, "metadata").get.contains(Seq("encrypted", "False")))
    for (xlsx <- Seq(asSaved, respelled)) {
      val before = Files.readAllBytes(xlsx)
      val lake = new DuckLakeXLSpark(spark, xlsx.toString, dir.resolve("data").toString)
      assert(lake.sql("SELECT count(*) AS c FROM crew").head().getLong(0) == 4L)
      assert(java.util.Arrays.equals(Files.readAllBytes(xlsx), before),
        s"a SELECT rewrote ${xlsx.getFileName}")
    }
  }

  test("a lake OPENS from the Excel-authored workbook alone and answers " +
      "queries (pull on a foreign file)") {
    val dir = Files.createTempDirectory("graft_foreign").toString
    Files.copy(Paths.get(fixture), Paths.get(s"$dir/lake.xlsx"),
      StandardCopyOption.REPLACE_EXISTING)
    val lake = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data")
    val rows = lake.sql(
      "SELECT id, coalesce(name, '<null>') AS name, " +
      "coalesce(CAST(flag AS VARCHAR), '<null>') AS flag, score " +
      "FROM crew ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSeq
    assert(rows == Seq(
      (1, "Ada", "true", 1.5),
      (2, "Bo'z", "false", -2.25),
      (3, "東京 büro", "true", 0.0),
      (4, "<null>", "<null>", 42.0)))
    // and the foreign file is WRITABLE: an INSERT pushes on the foreign
    // pull's CAS base, and a THIRD instance re-opens the result
    lake.sql("INSERT INTO crew VALUES (5, 'Eve', false, 0.5)")
    val again = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data")
    assert(again.sql("SELECT count(*) AS c FROM crew").head().getLong(0) == 5L)
  }

  /** `src` re-zipped into `dst` part by part, `part` passed through `edit` */
  private def rezip(src: Path, dst: Path, part: String)(edit: String => String): Unit = {
    val zf = new ZipFile(src.toFile)
    val out = new ZipOutputStream(Files.newOutputStream(dst))
    try zf.entries().asScala.foreach { e =>
      val bytes = zf.getInputStream(e).readAllBytes()
      out.putNextEntry(new ZipEntry(e.getName))
      out.write(if (e.getName == part) edit(new String(bytes, UTF_8)).getBytes(UTF_8) else bytes)
      out.closeEntry()
    } finally { out.close(); zf.close() }
  }

  test("an out-of-band edit of the workbook is seen by the next statement") {
    val dir = Files.createTempDirectory("graft_foreign_edit")
    val xlsx = dir.resolve("lake.xlsx")
    Files.copy(Paths.get(fixture), xlsx)
    val lake = new DuckLakeXLSpark(spark, xlsx.toString, dir.resolve("data").toString)
    def name1(): String = lake.sql("SELECT name FROM crew WHERE id = 1").head().getString(0)
    assert(name1() == "Ada")
    assert(name1() == "Ada")
    // one shared-string cell edited in place: the same file, its mtime set
    // back, so only the part's CRC (and maybe the size) tells
    val mtime = Files.getLastModifiedTime(xlsx)
    val edited = dir.resolve("edited.xlsx")
    rezip(xlsx, edited, "xl/sharedStrings.xml")(_.replace(">Ada<", ">Eve<"))
    Files.write(xlsx, Files.readAllBytes(edited))
    Files.setLastModifiedTime(xlsx, mtime)
    assert(name1() == "Eve")
    // a rewrite the way the codec publishes one: a new file renamed over it
    XlsxCodec.write(xlsx.toString, XlsxCodec.read(xlsx.toString).map { case (n, rows) =>
      n -> rows.map(_.map(c => if (c == "Eve") "Ivy" else c))
    })
    assert(name1() == "Ivy")
  }
}
