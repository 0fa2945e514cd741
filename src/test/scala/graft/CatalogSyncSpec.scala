package graft

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.lake._
import graft.xlsx.{ExcelRemote, XlsxCodec}

/** The workbook sync protocol on its own: an in-memory transport and
  * hand-built catalog states, no SparkSession.
  */
class CatalogSyncSpec extends AnyFunSuite {

  /** a workbook held in memory that logs every transport call. Its
    * identity is None, as on a transport without one, unless
    * `withIdentity`; then every change of `book`, its own writes and the
    * spec's edits alike, gives it a new one, and a spec may also set `id`
    * itself.
    */
  private final class MemRemote(withIdentity: Boolean = false) extends ExcelRemote {
    private var stored: Option[Seq[XlsxCodec.Sheet]] = None
    private var version = 0
    var id: Option[String] = None
    var failWrites = false
    def book: Option[Seq[XlsxCodec.Sheet]] = stored
    def book_=(b: Option[Seq[XlsxCodec.Sheet]]): Unit = {
      stored = b
      version += 1
      id = Some(s"v$version")
    }
    val calls = ArrayBuffer.empty[String]
    val writes = ArrayBuffer.empty[Set[String]]
    def count(op: String): Int = calls.count(_ == op)
    def exists: Boolean = { calls += "exists"; book.isDefined }
    def sheetNames: Seq[String] = { calls += "sheetNames"; book.toSeq.flatten.map(_._1) }
    def readAll(): Seq[XlsxCodec.Sheet] = { calls += "readAll"; book.getOrElse(Nil) }
    def readSheet(name: String): Option[Seq[Seq[String]]] = {
      calls += "readSheet"
      book.flatMap(_.collectFirst { case (n, rows) if n == name => rows })
    }
    def writeAll(sheets: Seq[XlsxCodec.Sheet]): Unit =
      writeChanged(sheets, sheets.map(_._1).toSet)
    override def writeChanged(sheets: Seq[XlsxCodec.Sheet], dirty: Set[String]): Unit = {
      calls += "write"
      if (failWrites) throw new java.io.IOException("write failed")
      writes += dirty
      // a real workbook pads rows on write and drops trailing blanks on read
      book = Some(sheets.map { case (n, rows) =>
        val w = rows.map(_.length).maxOption.getOrElse(0)
        n -> rows.map(_.padTo(w, "")) })
    }
    override def storedIdentity(): Option[String] =
      if (!withIdentity) None
      else { calls += "storedIdentity"; book.flatMap(_ => id) }
    override def publishedIdentity: Option[String] = if (withIdentity) id else None
  }

  private val seed = CatalogState.empty.copy(
    metadata = Vector("version" -> "0.1", "data_path" -> "lake/data"),
    snapshots = Vector(SnapshotRow(0L, "2026-01-01 00:00:00", 0L, 2L, 1L)),
    schemas = Vector(SchemaRow(1L, "uuid-main", 0L, None, "main")))

  /** the seed one snapshot later, as another writer would commit it */
  private def advanced(st: CatalogState): CatalogState = {
    val head = st.snapshots.maxBy(_.snapshotId)
    st.copy(snapshots = st.snapshots :+ head.copy(snapshotId = head.snapshotId + 1))
  }

  private def bootstrapped(withIdentity: Boolean = false): (MemRemote, CatalogSync) = {
    val remote = new MemRemote(withIdentity)
    val sync = new CatalogSync(remote)
    sync.bootstrap(seed)
    remote.calls.clear(); remote.writes.clear()
    (remote, sync)
  }

  test("digest is injective across cell boundaries and ignores trailing blanks") {
    import CatalogSync.digest
    assert(digest(Seq(Seq("ab"))) != digest(Seq(Seq("a", "b"))))
    assert(digest(Seq(Seq("a", "b"))) != digest(Seq(Seq("a"), Seq("b"))))
    assert(digest(Seq(Seq("a", "", ""))) == digest(Seq(Seq("a"))))
    assert(digest(Seq(Seq("", "a"))) != digest(Seq(Seq("a"))))
  }

  /** the digest's reference spelling: md5 over length-prefixed UTF-8 cells
    * and a -1 row terminator, trailing blank cells dropped
    */
  private def md5OfUtf8(rows: Seq[Seq[String]]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    def int(v: Int): Unit = d.update(java.nio.ByteBuffer.allocate(4).putInt(v).array())
    rows.foreach { r =>
      r.reverse.dropWhile(_.isEmpty).reverse.foreach { c =>
        val bytes = c.getBytes("UTF-8")
        int(bytes.length); d.update(bytes)
      }
      int(-1)
    }
    java.util.Base64.getEncoder.encodeToString(d.digest())
  }

  test("digest is md5 over length-prefixed UTF-8 cells, whatever the Seq") {
    import CatalogSync.digest
    val rows = Seq(
      Seq("id", "ascii", "", "latin é", "cjk 東京", "astral \uD83D\uDE00 x", "", ""),
      Seq(), Seq(""), Seq("", "a"),
      Seq("x" * 1000, "ü" * 300, "\uD83D\uDE00" * 200)) // past the 256-byte buffer
    assert(digest(rows) == md5OfUtf8(rows))
    assert(digest(rows.map(_.toList).toList) == digest(rows))
    assert(digest(ArraySeq.from(rows.map(r => ArraySeq.from(r)))) == digest(rows))
    assert(digest(rows.map(_.toVector).toVector) == digest(rows))
  }

  test("digest keeps non-BMP text and lone surrogates apart") {
    import CatalogSync.digest
    val smile = "\uD83D\uDE00"
    assert(digest(Seq(Seq(smile))) != digest(Seq(Seq("\uD83D\uDE01"))))
    assert(digest(Seq(Seq(smile))) != digest(Seq(Seq("\uD83D", "\uDE00"))))
    assert(digest(Seq(Seq("\uD83D"))) != digest(Seq(Seq("?"))))
    assert(digest(Seq(Seq("\uD83D"))) != digest(Seq(Seq("\uDE00"))))
  }

  test("pushing the pulled state makes one readSheet and writes nothing") {
    val (remote, sync) = bootstrapped()
    // a spelling the catalog normalizes on pull ('encrypted' lower-cases),
    // so re-encoding the pulled state would dirty the metadata sheet
    remote.book = remote.book.map(_.map {
      case (n, rows) if n == CatalogSchema.sheetName("ducklake_metadata") =>
        n -> (rows :+ Seq("encrypted", "False"))
      case s => s
    })
    val st = sync.pull()
    remote.calls.clear()
    sync.push(st)
    assert(remote.calls.toSeq == Seq("readSheet"))
    assert(remote.writes.isEmpty)
    // an equal state that is another object takes the digest path, and
    // there the normalized spelling is a change
    sync.push(st.copy())
    assert(remote.writes.toSeq == Seq(Set(CatalogSchema.sheetName("ducklake_metadata"))))
  }

  test("a state equal by value but another object writes nothing") {
    val (remote, sync) = bootstrapped()
    val st = sync.pull()
    val twin = st.copy()
    assert(twin == st && (twin ne st))
    sync.push(twin)
    assert(remote.writes.isEmpty, remote.writes)
    assert(remote.count("readSheet") == 1, remote.calls)
  }

  test("after the workbook vanishes, pushing the last pulled state re-creates it whole") {
    val (remote, sync) = bootstrapped()
    val st = sync.pull()
    remote.book = None
    assert(sync.pullIfPresent().isEmpty)
    sync.push(st)
    assert(remote.writes.toSeq == Seq(st.toSheets.map(_.name).toSet))
    assert(sync.pull() == st)
  }

  test("bootstrap on an absent workbook seeds it without a CAS probe") {
    val remote = new MemRemote
    val st = new CatalogSync(remote).bootstrap(seed)
    assert(st == seed)
    assert(remote.count("readSheet") == 0, remote.calls)
    assert(remote.writes.size == 1)
    assert(remote.writes.head == seed.toSheets.map(_.name).toSet)
  }

  test("bootstrap on a complete workbook adopts it and writes nothing") {
    val (remote, _) = bootstrapped()
    val other = new CatalogSync(remote)
    val st = other.bootstrap(sys.error("the seed must not be built"))
    assert(st.currentSnapshot == seed.currentSnapshot)
    assert(remote.count("readAll") == 1 && remote.count("write") == 0, remote.calls)
  }

  test("a clean commit writes nothing, also after a padded round trip") {
    val (remote, sync) = bootstrapped()
    sync.push(seed)
    val pulled = sync.pull()
    sync.push(pulled)
    assert(remote.writes.isEmpty, remote.writes)
  }

  test("one changed sheet is the whole dirty set") {
    val (remote, sync) = bootstrapped()
    sync.push(seed.copy(metadata = seed.metadata :+ ("owner" -> "x")))
    assert(remote.writes.toSeq == Seq(Set(CatalogSchema.sheetName("ducklake_metadata"))))
  }

  test("a remote head past the base is rejected and writes nothing") {
    val (remote, a) = bootstrapped()
    val b = new CatalogSync(remote)
    val base = b.pull()
    a.push(advanced(seed))
    remote.writes.clear()
    val e = intercept[java.util.ConcurrentModificationException] {
      b.push(base.copy(metadata = base.metadata :+ ("owner" -> "b")))
    }
    assert(e.getMessage.contains("stale push rejected"))
    // so is the unchanged pulled state, which a read-only statement pushes
    intercept[java.util.ConcurrentModificationException](b.push(base))
    assert(remote.writes.isEmpty)
    // a fresh pull re-bases the loser, and its commit then lands
    b.push(b.pull().copy(metadata = base.metadata :+ ("owner" -> "b")))
    assert(remote.writes.size == 1)
  }

  test("each push makes exactly one readSheet and no exists probe") {
    val (remote, sync) = bootstrapped()
    sync.push(seed)
    sync.push(advanced(seed))
    assert(remote.count("readSheet") == 2, remote.calls)
    assert(remote.count("exists") == 0, remote.calls)
  }

  test("an absent workbook skips the CAS check and is re-created whole") {
    val (remote, sync) = bootstrapped()
    remote.book = None
    assert(sync.pullIfPresent().isEmpty)
    sync.push(advanced(seed))
    assert(remote.writes.toSeq == Seq(seed.toSheets.map(_.name).toSet))
    assert(sync.pull().currentSnapshot == seed.currentSnapshot + 1)
  }

  test("an unchanged identity returns the state last pulled without a readAll") {
    val (remote, _) = bootstrapped(withIdentity = true)
    val sync = new CatalogSync(remote)
    val first = sync.pull()
    assert(remote.count("readAll") == 1, remote.calls)
    remote.calls.clear()
    assert(sync.pull() eq first)
    assert(sync.pullIfPresent().exists(_ eq first))
    assert(remote.count("readAll") == 0, remote.calls)
    assert(remote.count("storedIdentity") == 2, remote.calls)
  }

  test("after its own push, the next pull makes no readAll and returns the pushed state") {
    val (remote, sync) = bootstrapped(withIdentity = true)
    val next = advanced(seed)
    sync.push(next)
    assert(remote.writes.size == 1)
    remote.calls.clear()
    assert(sync.pull() eq next)
    assert(remote.count("readAll") == 0, remote.calls)
    // and a push of it, as a read-only statement makes, still probes the head
    sync.push(next)
    assert(remote.calls.toSeq == Seq("storedIdentity", "readSheet"))
  }

  test("a foreign write, an unknown identity or an absent workbook forces a full pull") {
    val (remote, sync) = bootstrapped(withIdentity = true)
    sync.pull()
    // a foreign write: another sync on the same workbook commits
    new CatalogSync(remote).push(advanced(seed))
    remote.calls.clear()
    assert(sync.pull().currentSnapshot == seed.currentSnapshot + 1)
    assert(remote.count("readAll") == 1, remote.calls)
    // an unknown identity: every pull reads
    remote.id = None
    remote.calls.clear()
    sync.pull(); sync.pull()
    assert(remote.count("readAll") == 2, remote.calls)
    // an absent workbook: the sync forgets the identity it recorded, so a
    // workbook that reappears under that same identity is still read
    remote.book = remote.book
    sync.pull()
    val (book, id) = (remote.book, remote.id)
    remote.book = None
    assert(sync.pullIfPresent().isEmpty)
    remote.book = book
    remote.id = id
    remote.calls.clear()
    sync.pull()
    assert(remote.count("readAll") == 1, remote.calls)
  }

  test("a write that throws forces a full pull") {
    val (remote, sync) = bootstrapped(withIdentity = true)
    sync.pull()
    remote.failWrites = true
    intercept[java.io.IOException](sync.push(advanced(seed)))
    remote.failWrites = false
    remote.calls.clear()
    assert(sync.pull().currentSnapshot == seed.currentSnapshot)
    assert(remote.count("readAll") == 1, remote.calls)
  }

  test("the CAS rejection still fires on a session that reuses its pull") {
    val (remote, b) = bootstrapped(withIdentity = true)
    val base = b.pull()
    remote.calls.clear()
    assert(b.pull() eq base)
    assert(remote.count("readAll") == 0, remote.calls)
    new CatalogSync(remote).push(advanced(seed))
    remote.writes.clear()
    intercept[java.util.ConcurrentModificationException](b.push(base))
    intercept[java.util.ConcurrentModificationException](
      b.push(base.copy(metadata = base.metadata :+ ("owner" -> "b"))))
    assert(remote.writes.isEmpty)
    // the replay's pull reads the new head, and its commit lands
    b.push(b.pull().copy(metadata = base.metadata :+ ("owner" -> "b")))
    assert(remote.writes.size == 1)
  }
}
