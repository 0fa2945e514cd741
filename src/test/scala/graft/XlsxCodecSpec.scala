package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.xlsx.{LocalXlsxRemote, XlsxCodec}

class XlsxCodecSpec extends AnyFunSuite {

  private def tmpXlsx(): String =
    Files.createTempFile("codec", ".xlsx").toString

  test("column naming is proper base-26 past Z (reference bug ducklakexl.py:570 fixed)") {
    assert(XlsxCodec.colName(0) == "A")
    assert(XlsxCodec.colName(25) == "Z")
    assert(XlsxCodec.colName(26) == "AA")
    assert(XlsxCodec.colName(27) == "AB")
    assert(XlsxCodec.colName(51) == "AZ")
    assert(XlsxCodec.colName(52) == "BA")
    assert(XlsxCodec.colName(701) == "ZZ")
    assert(XlsxCodec.colName(702) == "AAA")
    (0 until 1000).foreach(i => assert(XlsxCodec.colIndex(XlsxCodec.colName(i) + "1") == i))
  }

  test("write/read round-trip of a plain sheet") {
    val p = tmpXlsx()
    val rows = Seq(
      Seq("id", "val", "note"),
      Seq("1", "", "mid-row blank"), // trailing blanks are not representable
      Seq("2", "beta", "x<y & \"q\" 'z'"))
    XlsxCodec.write(p, Seq(("t", rows)))
    val back = XlsxCodec.read(p)
    assert(back.map(_._1) == Seq("t"))
    assert(back.head._2 == rows)
  }

  test("CR/CRLF cell text survives the XML round trip (r8 review fix)") {
    val p = tmpXlsx()
    val rows = Seq(Seq("k", "v"), Seq("win", "a\r\nb"), Seq("bare", "x\ry"))
    XlsxCodec.write(p, Seq(("t", rows)))
    // XML 1.0 EOL normalization folds raw CR/CRLF to LF on read — the
    // writer must emit &#13; so read(write(x)) == x
    assert(XlsxCodec.read(p).head._2 == rows)
  }

  test("foreign sparse files: omitted rows keep their position; phonetic runs are not text") {
    val p = tmpXlsx()
    // hand-build a worksheet with <row r=1> then <row r=3> and a shared
    // string carrying a phonetic <rPh> run (Japanese-Excel shape)
    val zip = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(p)))
    def part(n: String, body: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(body.getBytes("UTF-8")); zip.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>""")
    part("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="1" uniqueCount="1"><si><t>東京</t><rPh sb="0" eb="2"><t>トウキョウ</t></rPh><phoneticPr fontId="1"/></si></sst>""")
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c></row><row r="3"><c r="A3"><v>9</v></c></row></sheetData></worksheet>""")
    zip.close()
    val back = XlsxCodec.read(p).head._2
    assert(back == Seq(Seq("東京"), Seq.empty, Seq("9")),
      s"sparse row positions / phonetic runs mishandled: $back")
  }

  test("empty cells densify from sparse refs; 30-col row survives") {
    val p = tmpXlsx()
    val wide = (0 until 30).map(i => s"c$i")
    XlsxCodec.write(p, Seq(("wide", Seq(wide, wide.map(_.toUpperCase)))))
    val back = XlsxCodec.read(p).head._2
    assert(back == Seq(wide, wide.map(_.toUpperCase)))
  }

  test("multiple sheets keep declaration order and names") {
    val p = tmpXlsx()
    val sheets = Seq("snapshot", "schema", "table", "column").map(n =>
      (n, Seq(Seq("k"), Seq(n))))
    XlsxCodec.write(p, sheets)
    assert(XlsxCodec.sheetNames(p) == sheets.map(_._1))
    assert(XlsxCodec.read(p) == sheets)
  }

  test("property: write . read == id for random string matrices") {
    // xml-legal strings without control chars (codec drops them by design)
    val cellGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '&', '<', '>', '"', '\'', 'é', 'ü', '中')))
      .map(_.mkString)
    val rowGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, cellGen))
    val gridGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, rowGen))
    val prop = Prop.forAll(gridGen) { grid0 =>
      // normalize to representable expectations: trailing empty cells in a
      // row and trailing empty rows are not representable (Excel drops
      // them too) — compare after stripping both
      val grid = grid0.map(_.reverse.dropWhile(_.isEmpty).reverse)
        .reverse.dropWhile(_.isEmpty).reverse
      val p = tmpXlsx()
      XlsxCodec.write(p, Seq(("s", grid)))
      val back = XlsxCodec.read(p).head._2
        .map(_.reverse.dropWhile(_.isEmpty).reverse.toList).toList
      back == grid
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("reads an Excel-style workbook: shared strings, native bools, styles") {
    // Excel rewrites saved workbooks with sharedStrings (t="s"), native
    // booleans (t="b"), styled numeric cells (s= attr, no t) — SURVEY
    // §7.6 dragon #2. Build one by hand and read it.
    val path = tmpXlsx()
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def part(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
        |</Types>""".stripMargin)
    part("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="metadata" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
        |<si><t>key</t></si><si><r><t>val</t></r><r><t>ue</t></r></si></sst>""".stripMargin)
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="b"><v>1</v></c><c r="B2" s="3"><v>42.5</v></c></row>
        |<row r="3"><c r="A3" t="b"><v>0</v></c><c r="B3" t="inlineStr"><is><t>inline text</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val sheets = XlsxCodec.read(path)
    assert(sheets.map(_._1) == Seq("metadata"))
    assert(sheets.head._2 == Seq(
      Seq("key", "value"),          // shared strings incl. multi-run <r>
      Seq("true", "42.5"),          // native bool + styled number
      Seq("false", "inline text"))) // bool false + inline string
  }

  test("readOne decodes the same rows as read, sheet by sheet; None for an unknown name") {
    val p = tmpXlsx()
    XlsxCodec.write(p, Seq("snapshot", "schema", "table").map(n =>
      (n, Seq(Seq("k", "v"), Seq(n, ""), Seq("", n)))))
    // the Excel-authored fixture: shared strings, rich and phonetic runs,
    // sheet parts resolved through workbook.xml.rels
    val fixture = "fixtures/excel_authored_lake.xlsx"
    for (path <- Seq(p, fixture)) {
      val all = XlsxCodec.read(path)
      assert(all.nonEmpty)
      all.foreach { case (n, rows) =>
        assert(XlsxCodec.readOne(path, n).contains(rows), s"$path: sheet $n")
      }
      assert(XlsxCodec.readOne(path, "no_such_sheet").isEmpty)
    }
  }

  test("readOne loads xl/sharedStrings.xml only for a part with t=\"s\" cells") {
    val p = tmpXlsx()
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(java.nio.file.Paths.get(p)))
    def part(n: String, body: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(body.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="inline" sheetId="1" r:id="rId1"/><sheet name="shared" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1"><v>7</v></c></row></sheetData></worksheet>""")
    part("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c></row></sheetData></worksheet>""")
    part("xl/sharedStrings.xml", "<sst><si><t>unterminated") // not well-formed
    zip.close()
    assert(XlsxCodec.readOne(p, "inline").contains(Seq(Seq("a", "7"))))
    assertThrows[javax.xml.stream.XMLStreamException](XlsxCodec.readOne(p, "shared"))
  }

  test("LocalXlsxRemote.readSheet is None when the workbook file is absent") {
    val dir = Files.createTempDirectory("codec_gone")
    assert(new LocalXlsxRemote(dir.resolve("gone.xlsx").toString).readSheet("snapshot").isEmpty)
  }

  test("rejects >31-char sheet names (Excel cap, ducklakexl.py:241)") {
    val p = tmpXlsx()
    assertThrows[IllegalArgumentException] {
      XlsxCodec.write(p, Seq(("x" * 32, Seq(Seq("a")))))
    }
  }
}
