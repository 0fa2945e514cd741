package graft.xlsx

import java.io.{ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** Pure-JDK xlsx codec (java.util.zip + StAX) — no Apache POI available in
  * the offline build (SURVEY.md §7.0). An .xlsx is a zip of SpreadsheetML
  * parts; a sheet is `<row><c r="A1" t="...."><v>…</v></c>…</row>`.
  *
  * Read side handles the cell types Excel (or any writer) produces:
  * inline strings (`t="inlineStr"`), shared strings (`t="s"` +
  * xl/sharedStrings.xml, including rich-text runs), booleans (`t="b"`,
  * normalized to "true"/"false"), formula strings (`t="str"`) and plain
  * numbers. Sparse rows are densified from cell refs (a missing B cell
  * between A and C yields an empty string).
  *
  * Write side emits inline strings only (types are recovered on pull from
  * the catalog schema — same contract as the reference, ducklakexl.py:568),
  * with proper base-26 column names (AA, AB, …) past column 26 — fixing
  * the reference's `string.ascii_uppercase[ncols-1]` 26-column cap
  * (ducklakexl.py:570). Writes are atomic: temp file + ATOMIC_MOVE, which
  * gives the local remote a free improvement over the reference's
  * non-atomic full rewrite (README.md:28 caveats).
  */
object XlsxCodec {

  type Sheet = (String, Seq[Seq[String]]) // (name, rows of cells; "" = blank)

  // ------------------------------------------------------------------ refs
  /** 0-based column index -> A1-style letters (0->A, 25->Z, 26->AA) */
  def colName(idx: Int): String = {
    var i = idx
    val sb = new StringBuilder
    while (i >= 0) {
      sb.insert(0, ('A' + i % 26).toChar)
      i = i / 26 - 1
    }
    sb.toString
  }

  /** "AB12" -> 0-based column index */
  def colIndex(ref: String): Int = {
    var acc = 0
    var k = 0
    while (k < ref.length && ref.charAt(k).isLetter) {
      acc = acc * 26 + (ref.charAt(k).toUpper - 'A' + 1)
      k += 1
    }
    acc - 1
  }

  // ----------------------------------------------------------------- write
  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      // a raw CR would be eaten by XML 1.0 end-of-line normalization on
      // the next read (CR/CRLF -> LF), breaking read(write(x)) == x for
      // any cell holding Windows line endings — the character reference
      // survives normalization (review-found)
      case '\r' => sb.append("&#13;")
      case c if c < ' ' && c != '\t' && c != '\n' =>
        () // control chars are not legal in XML 1.0; drop
      case c => sb.append(c)
    }
    sb.toString
  }

  private def sheetXml(rows: Seq[Seq[String]]): String = {
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    rows.zipWithIndex.foreach { case (row, r) =>
      sb.append(s"""<row r="${r + 1}">""")
      row.zipWithIndex.foreach { case (cell, c) =>
        if (cell != null && cell.nonEmpty) {
          sb.append(s"""<c r="${colName(c)}${r + 1}" t="inlineStr"><is><t xml:space="preserve">""")
          sb.append(xmlEscape(cell))
          sb.append("</t></is></c>")
        }
      }
      sb.append("</row>")
    }
    sb.append("</sheetData></worksheet>")
    sb.toString
  }

  def write(path: String, sheets: Seq[Sheet]): Unit = {
    require(sheets.nonEmpty, "xlsx needs at least one sheet")
    sheets.foreach { case (n, _) =>
      require(n.length <= 31, s"sheet name >31 chars: $n") // Excel cap
    }
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos, StandardCharsets.UTF_8)
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    val n = sheets.size
    part("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      (1 to n).map(i =>
        s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
        .mkString + "</Types>")
    part("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      """</Relationships>""")
    part("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
      sheets.zipWithIndex.map { case ((name, _), i) =>
        s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
      }.mkString + "</sheets></workbook>")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      (1 to n).map(i =>
        s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
        .mkString + "</Relationships>")
    sheets.zipWithIndex.foreach { case ((_, rows), i) =>
      part(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(rows))
    }
    zip.close()
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(
      if (target.getParent != null) target.getParent else Paths.get("."),
      ".xlsx-", ".tmp")
    try {
      // createTempFile's 0600 mode would otherwise survive the atomic
      // move and lock other accounts out of a shared lake workbook —
      // carry the published file's permissions (or a umask-typical
      // default on first create); best-effort on non-POSIX stores
      try {
        import java.nio.file.attribute.PosixFilePermissions
        val perms =
          if (Files.exists(target)) Files.getPosixFilePermissions(target)
          else PosixFilePermissions.fromString("rw-r--r--")
        Files.setPosixFilePermissions(tmp, perms)
      } catch { case _: UnsupportedOperationException | _: java.io.IOException => () }
      Files.write(tmp, bos.toByteArray)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp) // no-op after a successful move
  }

  // ------------------------------------------------------------------ read
  private def slurp(zf: ZipFile, name: String): Option[InputStream] =
    Option(zf.getEntry(name)).map(zf.getInputStream)

  /** one StAX factory per codec call (a `newInstance()` is a service
    * lookup); external entities and DTDs off
    */
  private def xmlFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  /** sheet order + names from xl/workbook.xml (r:id order == part order
    * for our own files; for foreign files we resolve through the rels)
    */
  def sheetNames(path: String): Seq[String] = {
    val zf = new ZipFile(path)
    try readWorkbookSheets(xmlFactory(), zf).map(_._1)
    finally zf.close()
  }

  /** (name, relId) in declaration order */
  private def readWorkbookSheets(f: XMLInputFactory, zf: ZipFile): IndexedSeq[(String, String)] = {
    val in = slurp(zf, "xl/workbook.xml")
      .getOrElse(throw new IllegalArgumentException("not an xlsx: missing xl/workbook.xml"))
    val r = f.createXMLStreamReader(in)
    val out = mutable.ArrayBuffer[(String, String)]()
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          var name = ""; var rid = ""
          var i = 0
          while (i < r.getAttributeCount) {
            r.getAttributeLocalName(i) match {
              case "name" => name = r.getAttributeValue(i)
              case "id"   => rid = r.getAttributeValue(i)
              case _      =>
            }
            i += 1
          }
          out += ((name, rid))
        }
      }
    } finally { r.close(); in.close() }
    out.toIndexedSeq
  }

  private def readRels(f: XMLInputFactory, zf: ZipFile): Map[String, String] =
    slurp(zf, "xl/_rels/workbook.xml.rels").map { in =>
      val r = f.createXMLStreamReader(in)
      val m = mutable.Map[String, String]()
      try {
        while (r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship") {
            var id = ""; var target = ""
            var i = 0
            while (i < r.getAttributeCount) {
              r.getAttributeLocalName(i) match {
                case "Id"     => id = r.getAttributeValue(i)
                case "Target" => target = r.getAttributeValue(i)
                case _        =>
              }
              i += 1
            }
            m(id) = if (target.startsWith("/")) target.drop(1)
                    else "xl/" + target.stripPrefix("./")
          }
        }
      } finally { r.close(); in.close() }
      m.toMap
    }.getOrElse(Map.empty)

  private def readSharedStrings(f: XMLInputFactory, zf: ZipFile): IndexedSeq[String] =
    slurp(zf, "xl/sharedStrings.xml").map { in =>
      val r = f.createXMLStreamReader(in)
      val out = mutable.ArrayBuffer[String]()
      val cur = new java.lang.StringBuilder
      var inSi = false
      var inT = false
      var inRPh = 0 // phonetic-guide runs: their <t> is NOT cell text
      try {
        while (r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "si" => inSi = true; cur.setLength(0)
                case "rPh" | "phoneticPr" => inRPh += 1
                case "t" if inSi && inRPh == 0 => inT = true
                case _ =>
              }
            case XMLStreamConstants.CHARACTERS if inT => // rich-text runs concatenate
              cur.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "rPh" | "phoneticPr" => inRPh -= 1
                case "t" => inT = false
                case "si" => inSi = false; out += cur.toString
                case _ =>
              }
            case _ =>
          }
        }
      } finally { r.close(); in.close() }
      out.toIndexedSeq
    }.getOrElse(IndexedSeq.empty)

  /** full workbook: sheets in declaration order, rows densified */
  def read(path: String): Seq[Sheet] =
    decode(path) { (sheets, rows) => sheets.indices.map(i => (sheets(i)._1, rows(i))) }

  /** one sheet's rows, or None when the workbook declares no sheet of
    * that name (on a duplicate name, the first declared). Only that
    * sheet's part is decoded.
    */
  def readOne(path: String, name: String): Option[Seq[Seq[String]]] =
    decode(path) { (sheets, rows) =>
      val i = sheets.indexWhere(_._1 == name)
      if (i < 0) None else Some(rows(i))
    }

  /** opens the zip and hands `body` the declared (name, relId) list and a
    * decoder for the i-th declared sheet. The rels and the shared-string
    * table are read on first need, so a part without `t="s"` cells never
    * loads xl/sharedStrings.xml.
    */
  private def decode[A](path: String)(
      body: (IndexedSeq[(String, String)], Int => Seq[Seq[String]]) => A): A = {
    val zf = new ZipFile(path)
    try {
      val f = xmlFactory()
      lazy val rels = readRels(f, zf)
      lazy val shared = readSharedStrings(f, zf)
      val sheets = readWorkbookSheets(f, zf)
      body(sheets, i => {
        val part = rels.getOrElse(sheets(i)._2, s"xl/worksheets/sheet${i + 1}.xml")
        slurp(zf, part).map(readSheetPart(f, _, () => shared)).getOrElse(Seq.empty)
      })
    } finally zf.close()
  }

  private def readSheetPart(f: XMLInputFactory, in: InputStream,
      shared: () => IndexedSeq[String]): Seq[Seq[String]] = {
    val r = f.createXMLStreamReader(in)
    val rows = mutable.ArrayBuffer[Seq[String]]()
    val row = mutable.ArrayBuffer[String]() // the open row, copied out at </row>
    var cellCol = -1
    var cellType = "n"
    var inV = false
    var inIsT = false
    var inRPh = 0 // inline-string phonetic runs are not cell text
    val text = new java.lang.StringBuilder
    def endCell(): Unit = {
      if (cellCol >= 0) {
        while (row.size < cellCol) row += "" // densify skipped cells
        val raw = text.toString
        val v = cellType match {
          case "s" =>
            raw.toIntOption.flatMap(shared().lift).getOrElse("")
          case "b" => if (raw == "1") "true" else "false"
          case _ => raw
        }
        if (row.size == cellCol) row += v else row(cellCol) = v
      }
      cellCol = -1; cellType = "n"; text.setLength(0)
    }
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" =>
                row.clear()
                // sparse writers omit fully-empty rows — honor the r
                // attribute so interior blank rows keep their position
                // (cells densify by ref; rows must too, review-found)
                var i = 0
                while (i < r.getAttributeCount) {
                  if (r.getAttributeLocalName(i) == "r") {
                    r.getAttributeValue(i).toIntOption.foreach { rn =>
                      while (rows.size < rn - 1) rows += Seq.empty
                    }
                  }
                  i += 1
                }
              case "c" =>
                cellType = "n"; cellCol = row.size; text.setLength(0)
                var i = 0
                while (i < r.getAttributeCount) {
                  r.getAttributeLocalName(i) match {
                    case "r" => cellCol = colIndex(r.getAttributeValue(i))
                    case "t" => cellType = r.getAttributeValue(i)
                    case _ =>
                  }
                  i += 1
                }
              case "v" => inV = true
              case "rPh" | "phoneticPr" => inRPh += 1
              case "t" if inRPh == 0 => inIsT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inV || inIsT =>
            text.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" => inV = false
              case "rPh" | "phoneticPr" => inRPh -= 1
              case "t" => inIsT = false
              case "c" => endCell()
              case "row" => rows += ArraySeq.unsafeWrapArray(row.toArray)
              case _ =>
            }
          case _ =>
        }
      }
    } finally { r.close(); in.close() }
    // trim trailing fully-empty rows (Excel often persists them)
    rows.dropRightInPlace(rows.reverseIterator.takeWhile(_.forall(_.isEmpty)).size)
    ArraySeq.unsafeWrapArray(rows.toArray)
  }
}
