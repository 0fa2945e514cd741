package graft.lake

import graft.xlsx.ExcelRemote

/** The workbook sync protocol DuckLakeXL wraps around every statement:
  * pull the catalog out of the workbook, let the caller run, push what
  * changed back (reference ducklakexl.py:459-464,553-582). It needs no
  * SparkSession; the caller holds the [[CatalogState]]. Besides the
  * transport it keeps three things, never sheet rows of its own:
  *  - `digests`: per-sheet md5 as of the last pull/push, so a push writes
  *    only the sheets whose content moved (a clean commit writes nothing);
  *  - `base`: the snapshot id last seen on the remote, the compare-and-set
  *    base that stops a push from overwriting a lake another writer
  *    advanced (the reference is last-push-wins, its README.md:150-156);
  *  - `synced`: the state object last pulled or pushed. Pushing that very
  *    object (`eq`, as a read-only statement does) skips `toSheets` and
  *    the digests: nothing can have changed, so nothing is written. The
  *    CAS head probe still runs first, so a read-only statement still
  *    fails on, and is replayed after, a concurrent writer's commit,
  *    exactly like a write. `synced` is a state the caller holds anyway,
  *    so it keeps no extra rows alive.
  */
final class CatalogSync(remote: ExcelRemote) {
  @volatile private var digests: Map[String, String] = Map.empty
  /** -1 until the first pull/push: a bootstrap push has nothing to compare */
  @volatile private var base: Long = -1L
  /** null until the first pull/push, and again once the workbook is gone */
  @volatile private var synced: CatalogState = null

  /** reference _initialize_ducklake (ducklakexl.py:232-299): every core
    * sheet present -> adopt the remote; else push `seed` as the catalog.
    * Optional sheets (view, stats, tombstones) parse as empty when absent,
    * so older workbooks still open.
    */
  def bootstrap(seed: => CatalogState): CatalogState = {
    val wanted = CatalogSchema.coreTables.map(CatalogSchema.sheetName)
    if (remote.exists && wanted.forall(remote.sheetNames.toSet)) pull()
    else {
      val s = seed
      push(s)
      s
    }
  }

  /** the workbook's catalog, or None while no workbook exists: then the
    * next push re-creates it whole (no sheet matches a stale digest)
    */
  def pullIfPresent(): Option[CatalogState] =
    if (remote.exists) Some(pull())
    else { digests = Map.empty; synced = null; None }

  /** workbook -> CatalogState, which becomes the compare-and-set base */
  def pull(): CatalogState = {
    val sheets = remote.readAll().map { case (n, rows) => XlsxSheet(n, rows) }
    val st = CatalogState.fromSheets(sheets)
    base = st.currentSnapshot
    digests = sheets.map(s => s.name -> CatalogSync.digest(s.rows)).toMap
    synced = st
    st
  }

  /** CatalogState -> workbook. One `readSheet` re-reads the remote's
    * snapshot head; if it moved past `base`, the push is refused and
    * commits NOTHING — data files the statement wrote stay orphaned (never
    * referenced, so harmless; the scheduled-deletion sweep owns them) and
    * the remedy is to re-run on a fresh pull. Otherwise only the sheets
    * whose digest changed are written (the reference's README lists
    * change detection as a TODO); the very state last pulled or pushed
    * writes nothing without being serialized.
    */
  def push(state: CatalogState): Unit = {
    if (base >= 0) remoteHead().foreach { head =>
      if (head != base)
        throw new java.util.ConcurrentModificationException(
          s"stale push rejected: this session pulled snapshot $base " +
            s"but the lake has advanced to snapshot $head (another writer " +
            "pushed since). Nothing was committed; re-run the statement to " +
            "retry on a fresh pull.")
    }
    if (state ne synced) {
      val sheets = state.toSheets.map(s => (s.name, s.rows))
      val now = sheets.map { case (n, rows) => n -> CatalogSync.digest(rows) }
      val dirty = now.collect { case (n, d) if !digests.get(n).contains(d) => n }.toSet
      if (dirty.nonEmpty) remote.writeChanged(sheets, dirty)
      digests = now.toMap
      synced = state
    }
    base = state.currentSnapshot
  }

  /** max snapshot_id on the remote's snapshot sheet; None when the
    * workbook or sheet is absent or carries no data rows
    */
  private def remoteHead(): Option[Long] =
    remote.readSheet(CatalogSchema.sheetName("ducklake_snapshot")).flatMap { rows =>
      rows.headOption.flatMap { header =>
        val idx = header.indexWhere(_.trim == "snapshot_id")
        if (idx < 0) None
        else rows.tail
          .flatMap(r => r.lift(idx).map(_.trim).filter(_.nonEmpty))
          .flatMap(v => scala.util.Try(CatalogState.asLong(v)).toOption)
          .maxOption
      }
    }
}

object CatalogSync {
  /** md5 over length-PREFIXED cells plus a row terminator, TRAILING empty
    * cells stripped (the xlsx reader drops them, so write-side padding
    * would make every round trip look dirty). The length prefix makes it
    * injective: stats sheets carry arbitrary user strings, and in-band
    * separators alone would hash ["ab"] and ["a","b"] equal. Cells encode
    * as UTF-8 (a lone surrogate as its own 3-byte unit, so it stays
    * distinct from '?') into one reused buffer: no allocation per cell.
    */
  def digest(rows: Seq[Seq[String]]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    var buf = new Array[Byte](256)
    def put(at: Int, b: Int): Unit = buf(at) = b.toByte
    def putInt(at: Int, v: Int): Unit = {
      put(at, v >>> 24); put(at + 1, v >>> 16); put(at + 2, v >>> 8); put(at + 3, v)
    }
    rows.foreach { r =>
      // the row's cells go into buf back to back; `kept` ends after the
      // last non-empty one, so trailing blanks are encoded but not hashed
      var end = 0
      var kept = 0
      val it = r.iterator
      while (it.hasNext) {
        val c = it.next()
        val n = c.length
        val need = end + 8 + 3 * n // prefix, worst-case UTF-8, terminator
        if (need > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, need))
        var k = end + 4
        var j = 0
        while (j < n) {
          val ch = c.charAt(j)
          if (ch < 0x80) { put(k, ch); k += 1 }
          else if (ch < 0x800) { put(k, 0xC0 | ch >> 6); put(k + 1, 0x80 | ch & 0x3F); k += 2 }
          else if (Character.isHighSurrogate(ch) && j + 1 < n &&
              Character.isLowSurrogate(c.charAt(j + 1))) {
            val cp = Character.toCodePoint(ch, c.charAt(j + 1))
            put(k, 0xF0 | cp >> 18); put(k + 1, 0x80 | cp >> 12 & 0x3F)
            put(k + 2, 0x80 | cp >> 6 & 0x3F); put(k + 3, 0x80 | cp & 0x3F)
            k += 4; j += 1
          } else {
            put(k, 0xE0 | ch >> 12); put(k + 1, 0x80 | ch >> 6 & 0x3F)
            put(k + 2, 0x80 | ch & 0x3F); k += 3
          }
          j += 1
        }
        putInt(end, k - end - 4)
        end = k
        if (n > 0) kept = end
      }
      putInt(kept, -1) // row terminator, no cell has length -1
      d.update(buf, 0, kept + 4)
    }
    java.util.Base64.getEncoder.encodeToString(d.digest())
  }
}
