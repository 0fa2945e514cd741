package graft.lake

import graft.xlsx.ExcelRemote

/** The workbook sync protocol DuckLakeXL wraps around every statement:
  * pull the catalog out of the workbook, let the caller run, push what
  * changed back (reference ducklakexl.py:459-464,553-582). It needs no
  * SparkSession; the caller holds the [[CatalogState]]. Besides the
  * transport it keeps two things, never sheet rows:
  *  - `digests`: per-sheet md5 as of the last pull/push, so a push writes
  *    only the sheets whose content moved (a clean commit writes nothing);
  *  - `base`: the snapshot id last seen on the remote, the compare-and-set
  *    base that stops a push from overwriting a lake another writer
  *    advanced (the reference is last-push-wins, its README.md:150-156).
  */
final class CatalogSync(remote: ExcelRemote) {
  @volatile private var digests: Map[String, String] = Map.empty
  /** -1 until the first pull/push: a bootstrap push has nothing to compare */
  @volatile private var base: Long = -1L

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
    else { digests = Map.empty; None }

  /** workbook -> CatalogState, which becomes the compare-and-set base */
  def pull(): CatalogState = {
    val sheets = remote.readAll().map { case (n, rows) => XlsxSheet(n, rows) }
    val st = CatalogState.fromSheets(sheets)
    base = st.currentSnapshot
    digests = sheets.map(s => s.name -> CatalogSync.digest(s.rows)).toMap
    st
  }

  /** CatalogState -> workbook. One `readSheet` re-reads the remote's
    * snapshot head; if it moved past `base`, the push is refused and
    * commits NOTHING — data files the statement wrote stay orphaned (never
    * referenced, so harmless; the scheduled-deletion sweep owns them) and
    * the remedy is to re-run on a fresh pull. Otherwise only the sheets
    * whose digest changed are written (the reference's README lists
    * change detection as a TODO).
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
    val sheets = state.toSheets.map(s => (s.name, s.rows))
    val now = sheets.map { case (n, rows) => n -> CatalogSync.digest(rows) }
    val dirty = now.collect { case (n, d) if !digests.get(n).contains(d) => n }.toSet
    if (dirty.nonEmpty) remote.writeChanged(sheets, dirty)
    digests = now.toMap
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
    * separators alone would hash ["ab"] and ["a","b"] equal.
    */
  def digest(rows: Seq[Seq[String]]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val lenBuf = java.nio.ByteBuffer.allocate(4)
    rows.foreach { r =>
      r.reverse.dropWhile(_.isEmpty).reverse.foreach { c =>
        val bytes = c.getBytes("UTF-8")
        lenBuf.clear(); lenBuf.putInt(bytes.length)
        d.update(lenBuf.array()); d.update(bytes)
      }
      lenBuf.clear(); lenBuf.putInt(-1) // row terminator, no cell has length -1
      d.update(lenBuf.array())
    }
    java.util.Base64.getEncoder.encodeToString(d.digest())
  }
}
