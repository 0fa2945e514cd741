package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.xlsx.{LocalXlsxRemote, XlsxCodec}

class XlsxCodecSpec extends AnyFunSuite {

  private def tmpXlsx(): String =
    Files.createTempFile("codec", ".xlsx").toString

  /** one zip entry's uncompressed bytes */
  private def part(path: String, name: String): Array[Byte] = {
    val zf = new ZipFile(path)
    try zf.getInputStream(zf.getEntry(name)).readAllBytes()
    finally zf.close()
  }

  /** the sheet-part spelling of the String-building encoder the streaming
    * one replaced (it dropped control characters): the oracle for cells
    * it wrote losslessly
    */
  private def stringSheetXml(rows: Seq[Seq[String]]): Array[Byte] = {
    def xmlEscape(s: String): String = {
      val sb = new StringBuilder(s.length)
      s.foreach {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case '\r' => sb.append("&#13;")
        case c if c < ' ' && c != '\t' && c != '\n' => ()
        case c => sb.append(c)
      }
      sb.toString
    }
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    rows.zipWithIndex.foreach { case (row, r) =>
      sb.append(s"""<row r="${r + 1}">""")
      row.zipWithIndex.foreach { case (cell, c) =>
        if (cell != null && cell.nonEmpty) {
          sb.append(s"""<c r="${XlsxCodec.colName(c)}${r + 1}" t="inlineStr"><is><t xml:space="preserve">""")
          sb.append(xmlEscape(cell))
          sb.append("</t></is></c>")
        }
      }
      sb.append("</row>")
    }
    sb.append("</sheetData></worksheet>")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

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
    // any UTF-16 unit: controls, U+FFFE/U+FFFF and lone surrogates go
    // through `_xHHHH_`, and literal `_xHHHH_` text through `_x005F_`
    val cellGen = Gen.listOf(Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.choose(Char.MinValue, Char.MaxValue).map(_.toString),
      2 -> Gen.oneOf(" ", "&", "<", ">", "\"", "'", "é", "中", "\t", "\n", "\r",
        "\u0000", "\u0001", "\u001f", "\ufffe", "\uffff", "\ud800", "\udc00",
        "\ud83d\ude00", "_", "_x", "_x0041_", "_x005F_", "_xd83D_", "_x00zz_")))
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
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("XML-illegal units are written as _xHHHH_ and a literal _xHHHH_ as _x005F_xHHHH_") {
    val p = tmpXlsx()
    val cells = Seq("a\u0001", "zz\uffff", "lone\ud800", "_x0041_", "keep_x_and_x12_", "\ud83d\ude00")
    XlsxCodec.write(p, Seq(("t_x0041_", Seq(cells))))
    val xml = new String(part(p, "xl/worksheets/sheet1.xml"), StandardCharsets.UTF_8)
    for (spelled <- Seq(">a_x0001_<", ">zz_xFFFF_<", ">lone_xD800_<", ">_x005F_x0041_<",
        ">keep_x_and_x12_<", ">\ud83d\ude00<"))
      assert(xml.contains(spelled), s"$spelled not in $xml")
    assert(new String(part(p, "xl/workbook.xml"), StandardCharsets.UTF_8)
      .contains("name=\"t_x005F_x0041_\""))
    assert(XlsxCodec.read(p) == Seq(("t_x0041_", Seq(cells))))
    assert(XlsxCodec.readOne(p, "t_x0041_").contains(Seq(cells)))
  }

  test("shared strings decode _xHHHH_ escapes as Excel writes them") {
    val p = tmpXlsx()
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(java.nio.file.Paths.get(p)))
    def put(n: String, body: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(body.getBytes("UTF-8")); zip.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1"><v>_x0041_</v></c></row></sheetData></worksheet>""")
    put("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>tab_x0009_bell_x0007_</t></si><si><r><t>_x005F_</t></r><r><t>x0041_</t></r></si></sst>""")
    zip.close()
    // a numeric <v> is not ST_Xstring text: it stays as written
    assert(XlsxCodec.read(p).head._2 == Seq(Seq("tab\tbell\u0007", "_x0041_", "_x0041_")))
  }

  test("sheet parts are byte-identical to the String encoder this one replaced") {
    val wide = (0 until 30).map(i => if (i % 7 == 3) "" else s"w$i")
    val grid = Seq(
      Seq("plain", "a & b", "x<y>z", "say \"hi\"", "it's"),
      Seq("tab\there", "lf\nhere", "cr\rhere", "crlf\r\n", "\ud83d\ude00 non-BMP \u4e2d"),
      Seq(null, "", "after blanks", null),
      Seq.empty,
      wide,
      Seq("_x not an escape", "_x12_", "\u00e9\u00fc", "end"))
    val fixture = XlsxCodec.read("fixtures/excel_authored_lake.xlsx")
    val cases = Seq(
      Seq(("grid", grid)),
      Seq(("empty", Seq.empty[Seq[String]])),
      fixture)
    for (sheets <- cases) {
      val p = tmpXlsx()
      XlsxCodec.write(p, sheets)
      sheets.zipWithIndex.foreach { case ((n, rows), i) =>
        val got = part(p, s"xl/worksheets/sheet${i + 1}.xml")
        assert(java.util.Arrays.equals(got, stringSheetXml(rows)), s"sheet $n")
      }
    }
  }

  test("a 20,000-row x 8-column write allocates under 16 MB on the calling thread") {
    val rows = (0 until 20000).map(r => (0 until 8).map(c => s"cell-$r-$c value & more"))
    val sheets = Seq(("big", rows))
    val p = tmpXlsx()
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    XlsxCodec.write(p, sheets) // class loading and first-use setup
    val before = mx.getThreadAllocatedBytes(tid)
    XlsxCodec.write(p, sheets)
    val mb = (mx.getThreadAllocatedBytes(tid) - before) / 1e6
    assert(mb < 16.0, f"write allocated $mb%.1f MB")
    assert(XlsxCodec.read(p).head._2 == rows)
  }

  test("a write that fails mid-sheet leaves the target as it was and no temp file") {
    val dir = Files.createTempDirectory("codec_fail")
    val target = dir.resolve("lake.xlsx")
    def failingAt(k: Int): Seq[Seq[String]] =
      LazyList.tabulate(k + 10)(i =>
        if (i == k) throw new IllegalStateException(s"row $k") else Seq(s"r$i", "payload" * 20))
    def leftovers() = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".xlsx-") && n.endsWith(".tmp")).toList
      finally s.close()
    }
    for (k <- Seq(0, 5000)) {
      // first create: nothing appears under the target's name
      val e = intercept[IllegalStateException](
        XlsxCodec.write(target.toString, Seq(("ok", Seq(Seq("a"))), ("bad", failingAt(k)))))
      assert(e.getMessage == s"row $k")
      assert(!Files.exists(target))
      assert(leftovers().isEmpty)
    }
    XlsxCodec.write(target.toString, Seq(("ok", Seq(Seq("a", "b")))))
    val published = Files.readAllBytes(target)
    for (k <- Seq(0, 5000)) {
      intercept[IllegalStateException](
        XlsxCodec.write(target.toString, Seq(("bad", failingAt(k)))))
      assert(java.util.Arrays.equals(Files.readAllBytes(target), published))
      assert(leftovers().isEmpty)
    }
    assert(XlsxCodec.read(target.toString) == Seq(("ok", Seq(Seq("a", "b")))))
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
