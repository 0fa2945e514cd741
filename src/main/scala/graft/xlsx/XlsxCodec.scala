package graft.xlsx

import java.io.{BufferedOutputStream, IOException, InputStream, OutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.Using

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
  * (ducklakexl.py:570). It streams: each sheet's rows are encoded as UTF-8
  * into one reused buffer that feeds the zip entry in the temp file, so a
  * write holds no sheet String and no in-memory zip.
  *
  * Cell text and sheet names round-trip losslessly. A UTF-16 unit that XML
  * 1.0 cannot hold (controls other than tab/LF/CR, U+FFFE/U+FFFF, lone
  * surrogates) is written as the OOXML escape `_xHHHH_` (ECMA-376
  * ST_Xstring), and a literal `_` that starts such a pattern as `_x005F_`;
  * the read side decodes both in `<t>` text (inline and shared strings)
  * and in sheet names. CR is written `&#13;` so end-of-line normalization
  * keeps it.
  *
  * Writes are atomic and durable: temp file in the target's directory,
  * forced to disk, then ATOMIC_MOVE and a best-effort directory sync —
  * a free improvement for the local remote over the reference's
  * non-atomic full rewrite (README.md:28 caveats).
  *
  * [[contentIdentity]] names a workbook's bytes without decoding them; a
  * write returns the identity of what it published.
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
  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  private val XmlDecl = ascii("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
  private val SheetOpen = ascii(
    """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
  private val SheetClose = ascii("</sheetData></worksheet>")
  private val RowOpen = ascii("<row r=\"")
  private val TagClose = ascii("\">")
  private val RowClose = ascii("</row>")
  private val CellOpen = ascii("<c r=\"")
  private val CellText = ascii("\" t=\"inlineStr\"><is><t xml:space=\"preserve\">")
  private val CellClose = ascii("</t></is></c>")
  private val Amp = ascii("&amp;")
  private val Lt = ascii("&lt;")
  private val Gt = ascii("&gt;")
  private val Quot = ascii("&quot;")
  // a raw CR would be eaten by XML 1.0 end-of-line normalization on the
  // next read (CR/CRLF -> LF); the character reference survives it
  private val Cr = ascii("&#13;")
  private val Hex = ascii("0123456789ABCDEF")

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')

  /** `s` holds `_xHHHH_` at `i` (ECMA-376 ST_Xstring escape) */
  private def xEscapeAt(s: String, i: Int): Boolean =
    i + 6 < s.length && s.charAt(i) == '_' && s.charAt(i + 1) == 'x' &&
      isHex(s.charAt(i + 2)) && isHex(s.charAt(i + 3)) && isHex(s.charAt(i + 4)) &&
      isHex(s.charAt(i + 5)) && s.charAt(i + 6) == '_'

  /** UTF-8 XML written into one reused buffer that is handed to `out`
    * each time it fills: no per-cell String, no whole-part copy
    */
  private final class XmlSink(out: OutputStream) {
    private val buf = new Array[Byte](1 << 16)
    private var n = 0
    private var refs = new Array[Array[Byte]](32) // column letters by index

    def flush(): Unit = { out.write(buf, 0, n); n = 0 }

    def bytes(b: Array[Byte]): Unit = {
      if (n + b.length > buf.length) flush()
      if (b.length > buf.length) out.write(b)
      else { System.arraycopy(b, 0, buf, n, b.length); n += b.length }
    }

    /** markup spelled in this file: ASCII, nothing to escape */
    def markup(s: String): Unit = bytes(ascii(s))

    def int(v: Int): Unit = {
      if (n + 11 > buf.length) flush()
      var d = 1
      while (v / d >= 10) d *= 10
      while (d > 0) { buf(n) = ('0' + v / d % 10).toByte; n += 1; d /= 10 }
    }

    def colRef(c: Int): Array[Byte] = {
      if (c >= refs.length) refs = java.util.Arrays.copyOf(refs, math.max(refs.length * 2, c + 1))
      if (refs(c) == null) refs(c) = ascii(colName(c))
      refs(c)
    }

    private def put(b: Int): Unit = { buf(n) = b.toByte; n += 1 }

    /** `_xHHHH_`: the OOXML spelling of a UTF-16 unit XML 1.0 cannot hold */
    private def xEscape(c: Int): Unit = {
      put('_'); put('x')
      put(Hex(c >> 12 & 0xF)); put(Hex(c >> 8 & 0xF)); put(Hex(c >> 4 & 0xF)); put(Hex(c & 0xF))
      put('_')
    }

    /** escaped text: `& < > "` as entities, CR as `&#13;`, every other
      * XML-illegal unit (controls, U+FFFE/U+FFFF, lone surrogates) as
      * `_xHHHH_`, and a literal `_` that starts such a pattern as `_x005F_`
      */
    def text(s: String): Unit = {
      val len = s.length
      var i = 0
      while (i < len) {
        if (n + 7 > buf.length) flush() // the longest spelling of one unit
        val c = s.charAt(i)
        if (c < 0x80) {
          c match {
            case '&' => bytes(Amp)
            case '<' => bytes(Lt)
            case '>' => bytes(Gt)
            case '"' => bytes(Quot)
            case '\r' => bytes(Cr)
            case '\t' | '\n' => put(c)
            case '_' => if (xEscapeAt(s, i)) xEscape('_') else put(c)
            case _ => if (c < ' ') xEscape(c) else put(c)
          }
        } else if (c < 0x800) {
          put(0xC0 | c >> 6); put(0x80 | c & 0x3F)
        } else if (Character.isHighSurrogate(c) && i + 1 < len &&
            Character.isLowSurrogate(s.charAt(i + 1))) {
          val cp = Character.toCodePoint(c, s.charAt(i + 1))
          put(0xF0 | cp >> 18); put(0x80 | cp >> 12 & 0x3F)
          put(0x80 | cp >> 6 & 0x3F); put(0x80 | cp & 0x3F)
          i += 1
        } else if (Character.isSurrogate(c) || c >= 0xFFFE) {
          xEscape(c)
        } else {
          put(0xE0 | c >> 12); put(0x80 | c >> 6 & 0x3F); put(0x80 | c & 0x3F)
        }
        i += 1
      }
    }
  }

  /** inverse of the writer's `_xHHHH_` escaping (ST_Xstring): `s` itself
    * when it holds no escape, so plain text costs no copy
    */
  private def unescape(s: String): String = {
    var i = s.indexOf("_x")
    while (i >= 0 && !xEscapeAt(s, i)) i = s.indexOf("_x", i + 1)
    if (i < 0) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      sb.append(s, 0, i)
      while (i < s.length) {
        if (xEscapeAt(s, i)) {
          sb.append(Integer.parseInt(s, i + 2, i + 6, 16).toChar); i += 7
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
  }

  private def sheetPart(x: XmlSink, rows: Seq[Seq[String]]): Unit = {
    x.bytes(XmlDecl); x.bytes(SheetOpen)
    var r = 0
    val it = rows.iterator
    while (it.hasNext) {
      val cells = it.next().iterator
      r += 1
      x.bytes(RowOpen); x.int(r); x.bytes(TagClose)
      var c = 0
      while (cells.hasNext) {
        val cell = cells.next()
        if (cell != null && !cell.isEmpty) {
          x.bytes(CellOpen); x.bytes(x.colRef(c)); x.int(r); x.bytes(CellText)
          x.text(cell)
          x.bytes(CellClose)
        }
        c += 1
      }
      x.bytes(RowClose)
    }
    x.bytes(SheetClose)
  }

  /** the package parts, then each sheet's XML encoded straight into its
    * zip entry
    */
  private def encode(zip: ZipOutputStream, sheets: Seq[Sheet]): Unit = {
    val x = new XmlSink(zip)
    def part(name: String)(body: => Unit): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      body
      x.flush()
      zip.closeEntry()
    }
    val n = sheets.size
    part("[Content_Types].xml") {
      x.bytes(XmlDecl)
      x.markup("""<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""")
      (1 to n).foreach(i => x.markup(
        s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""))
      x.markup("</Types>")
    }
    part("_rels/.rels") {
      x.bytes(XmlDecl)
      x.markup("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
    }
    part("xl/workbook.xml") {
      x.bytes(XmlDecl)
      x.markup("""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""")
      sheets.zipWithIndex.foreach { case ((name, _), i) =>
        x.markup("""<sheet name="""")
        x.text(name)
        x.markup(s"""" sheetId="${i + 1}" r:id="rId${i + 1}"/>""")
      }
      x.markup("</sheets></workbook>")
    }
    part("xl/_rels/workbook.xml.rels") {
      x.bytes(XmlDecl)
      x.markup("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""")
      (1 to n).foreach(i => x.markup(
        s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>"""))
      x.markup("</Relationships>")
    }
    sheets.zipWithIndex.foreach { case ((_, rows), i) =>
      part(s"xl/worksheets/sheet${i + 1}.xml")(sheetPart(x, rows))
    }
  }

  /** writes `sheets` to `path` and returns the [[contentIdentity]] of the
    * published file, taken from the temp file before the rename: a rename
    * keeps the inode and the mtime, while a read of `path` afterwards could
    * already see another writer's file
    */
  def write(path: String, sheets: Seq[Sheet]): String = {
    require(sheets.nonEmpty, "xlsx needs at least one sheet")
    sheets.foreach { case (n, _) =>
      require(n.length <= 31, s"sheet name >31 chars: $n") // Excel cap
    }
    val target = Paths.get(path)
    val dir = if (target.getParent != null) target.getParent else Paths.get(".")
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".xlsx-", ".tmp")
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
      } catch { case _: UnsupportedOperationException | _: IOException => () }
      val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
      Using.resource(new ZipOutputStream(
          new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 16),
          StandardCharsets.UTF_8)) { zip =>
        encode(zip, sheets)
        zip.finish()
        zip.flush()
        // the bytes reach the disk before the rename publishes them, so a
        // crash cannot leave an empty workbook under the lake's name
        ch.force(true)
      }
      val published = contentIdentity(tmp)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      syncDir(dir)
      published
    } finally Files.deleteIfExists(tmp) // no-op after a successful move
  }

  /** The identity of the workbook bytes in `file`, read from the zip
    * central directory without inflating a part: each entry's name, CRC-32
    * and uncompressed size, plus the file's size, mtime and file key (the
    * inode). Equal identities mean the same bytes in the same file; any
    * rewrite, copy or `touch` gives a new one. Throws as opening the zip
    * does (absent file, not a zip).
    */
  def contentIdentity(file: Path): String = {
    val a = Files.readAttributes(file, classOf[java.nio.file.attribute.BasicFileAttributes])
    val sb = new java.lang.StringBuilder(1024)
    sb.append(a.size).append('|')
      .append(a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)).append('|')
      .append(a.fileKey)
    Using.resource(new ZipFile(file.toFile)) { zf =>
      val it = zf.entries()
      while (it.hasMoreElements) {
        val e = it.nextElement()
        sb.append('|').append(e.getName).append(':').append(e.getCrc).append(':').append(e.getSize)
      }
    }
    sb.toString
  }

  /** makes a rename in `dir` durable; best effort, since not every
    * platform can open a directory for sync
    */
  private def syncDir(dir: Path): Unit =
    try {
      val ch = FileChannel.open(dir, StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: IOException | _: UnsupportedOperationException => () }

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
              case "name" => name = unescape(r.getAttributeValue(i))
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
                case "si" => inSi = false; out += unescape(cur.toString)
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
          case "inlineStr" => unescape(raw)
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
