package graft.xlsx

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The workbook transport abstraction (reference `_pick_client`,
  * ducklakexl.py:85-97): the catalog sync layer
  * ([[graft.lake.CatalogSync]]) only needs these six operations, so
  * local-file and Microsoft-Graph workbooks are interchangeable behind
  * them — exactly how the reference treats its two modes (same
  * pull/push, different IO: ducklakexl.py:424-456,527-536).
  */
trait ExcelRemote {
  def exists: Boolean
  def sheetNames: Seq[String]
  def readAll(): Seq[XlsxCodec.Sheet]
  /** one sheet's rows, or None when the workbook/sheet is absent — the
    * cheap probe the optimistic-concurrency push uses to compare the
    * remote snapshot head against its pull base without a full readAll.
    * Cheap on both transports: Graph reads one usedRange, a local file
    * decodes only that sheet's part ([[XlsxCodec.readOne]]).
    */
  def readSheet(name: String): Option[Seq[Seq[String]]]
  /** full overwrite of the workbook (the reference's push semantics —
    * clear + rewrite every sheet, ducklakexl.py:553-582)
    */
  def writeAll(sheets: Seq[XlsxCodec.Sheet]): Unit

  /** write given the full intended workbook state but only `dirty` sheets
    * changed since pull (the reference rewrites every sheet every push —
    * its own README lists change detection as a TODO, README.md:160-163).
    * Default = full overwrite: correct everywhere, and for a local xlsx
    * the single-file atomic rewrite costs the same either way. GraphRemote
    * overrides it to clear+patch only the dirty sheets — push cost
    * proportional to what changed, not to catalog size.
    */
  def writeChanged(sheets: Seq[XlsxCodec.Sheet], dirty: Set[String]): Unit =
    writeAll(sheets)
}

/** local .xlsx on the filesystem (reference "excel" client) */
final class LocalXlsxRemote(path: String) extends ExcelRemote {
  def exists: Boolean = Files.exists(Paths.get(path))
  def sheetNames: Seq[String] = XlsxCodec.sheetNames(path)
  def readAll(): Seq[XlsxCodec.Sheet] = XlsxCodec.read(path)
  /** a workbook that is absent, or vanishes before the zip opens, is None */
  def readSheet(name: String): Option[Seq[Seq[String]]] =
    try XlsxCodec.readOne(path, name)
    catch { case _: NoSuchFileException => None }
  def writeAll(sheets: Seq[XlsxCodec.Sheet]): Unit = XlsxCodec.write(path, sheets)
}

/** OneDrive/SharePoint workbook over the Microsoft Graph REST API —
  * the reference's onedrive client (A3-A6, A8-A9: device auth,
  * drive-item resolution, workbook sessions, 401/404/429 retry —
  * ducklakexl.py:100-354) on plain `java.net.http` + the Jackson already
  * on the Spark classpath (zero new dependencies).
  *
  * Protocol (one REST call per box, all session-scoped):
  *  - item resolution: `GET /drives/{d}/root:/{path}` -> item id (A5)
  *  - workbook session: `POST …/workbook/createSession`
  *    {persistChanges: true} -> `workbook-session-id` header on every
  *    subsequent call (A8; the reference opens one per push)
  *  - list sheets: `GET …/workbook/worksheets` (A10)
  *  - read: `GET …/worksheets('{name}')/usedRange` `.text` 2-D array (A14)
  *  - write: ensure sheet (`POST worksheets/add`, A11), clear
  *    (`POST …/usedRange/clear`), then `PATCH …/range(address='A1:…')`
  *    with a rectangular values array (A15/A16)
  *  - workbook create: `PUT /drives/{d}/root:/{path}:/content` uploading
  *    an empty xlsx built by [[XlsxCodec]] (A17)
  *
  * Retry policy (A6/A9): 429/503 honor `Retry-After` (exponential backoff
  * when absent), one token refresh on 401, and bounded 404 retries on
  * sheet listing right after workbook creation (Graph's eventual
  * consistency — the reference hits the same window).
  *
  * `baseUrl` is injectable so the full protocol is testable against a
  * local mock server; the default is the public Graph endpoint.
  */
final class GraphRemote(
    driveId: String,
    itemPath: String,
    tokens: GraphTokenProvider,
    baseUrl: String = "https://graph.microsoft.com/v1.0",
    maxRetries: Int = 5,
    backoffMillis: Long = 500L,
    /** max concurrent per-sheet usedRange reads within one session */
    readConcurrency: Int = 8) extends ExcelRemote {

  // bounded I/O: a black-holed connection must fail the push, not hang
  // it forever while holding a workbook session open (review-found)
  private val http = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(30)).build()
  private val requestTimeout = java.time.Duration.ofSeconds(120)
  private val mapper = new ObjectMapper()
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraphRemote])
  @volatile private var cachedItemId: Option[String] = None

  // each path segment percent-encodes (spaces, '#', unicode) — a raw
  // interpolation made URI.create throw or probe the wrong item
  private def itemUrl =
    s"$baseUrl/drives/$driveId/root:/" + itemPath.split('/').map(enc).mkString("/")
  private def wbUrl(itemId: String) = s"$baseUrl/drives/$driveId/items/$itemId/workbook"
  private def enc(s: String) =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8).replace("+", "%20")

  /** OData string literal inside worksheets('…'): single quotes DOUBLE
    * (a sheet named Bob's otherwise terminates the literal early)
    */
  private def odataName(s: String) = enc(s.replace("'", "''"))

  /** send with the A6/A9 retry ladder; retry404 covers Graph's
    * eventual-consistency window on freshly created items
    */
  private def request(method: String, url: String, body: Option[String],
      session: Option[String] = None, retry404: Boolean = false): HttpResponse[String] = {
    var attempt = 0
    var refreshed = false
    while (true) {
      val b = HttpRequest.newBuilder(URI.create(url))
        .timeout(requestTimeout)
        .header("Authorization", s"Bearer ${tokens.token()}")
      session.foreach(b.header("workbook-session-id", _))
      body match {
        case Some(s) => b.header("Content-Type", "application/json")
          .method(method, HttpRequest.BodyPublishers.ofString(s))
        case None => b.method(method, HttpRequest.BodyPublishers.noBody())
      }
      val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      val code = resp.statusCode()
      if (code == 401 && !refreshed) { tokens.refresh(); refreshed = true }
      else if ((code == 429 || code == 503 || (code == 404 && retry404)) && attempt < maxRetries) {
        val ra = resp.headers().firstValue("Retry-After")
        // RFC 7231 allows delta-seconds OR an HTTP-date; a date (some
        // proxies/throttling tiers) must not crash the retry ladder
        val wait = (if (ra.isPresent) parseRetryAfterMillis(ra.get()) else None)
          .getOrElse(backoffMillis * (1L << attempt))
        Thread.sleep(wait)
        attempt += 1
      } else return resp
    }
    sys.error("unreachable")
  }

  private def expect(resp: HttpResponse[String], what: String, ok: Int*): HttpResponse[String] = {
    require(ok.contains(resp.statusCode()),
      s"Graph $what failed: HTTP ${resp.statusCode()} ${resp.body().take(300)}")
    resp
  }

  private def itemId(retry404: Boolean = false): String = cachedItemId.getOrElse {
    // retry404 covers Graph's eventual-consistency window right after
    // createEmptyWorkbook — the one resolve that was unprotected
    val resp = expect(request("GET", itemUrl, None, retry404 = retry404),
      s"item $itemPath", 200)
    val id = mapper.readTree(resp.body()).get("id").asText()
    cachedItemId = Some(id)
    id
  }

  /** RFC 7231 Retry-After: delta-seconds or HTTP-date -> millis to wait */
  private def parseRetryAfterMillis(v: String): Option[Long] =
    v.trim.toLongOption.map(_ * 1000L).orElse {
      try {
        val at = java.time.ZonedDateTime.parse(
          v.trim, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
        Some(math.max(0L, java.time.Duration.between(
          java.time.ZonedDateTime.now(at.getZone), at).toMillis))
      } catch { case _: java.time.format.DateTimeParseException => None }
    }

  def exists: Boolean = {
    val resp = request("GET", itemUrl, None)
    resp.statusCode() match {
      case 200 => cachedItemId = Some(mapper.readTree(resp.body()).get("id").asText()); true
      case 404 => false
      case c => throw new IllegalStateException(s"Graph item probe failed: HTTP $c")
    }
  }

  private def createSession(): String = {
    val resp = expect(request("POST", s"${wbUrl(itemId(retry404 = true))}/createSession",
      Some("""{"persistChanges": true}"""), retry404 = true), "createSession", 200, 201)
    mapper.readTree(resp.body()).get("id").asText()
  }

  private def closeSession(sid: String): Unit =
    request("POST", s"${wbUrl(itemId())}/closeSession", Some("{}"), Some(sid))

  private def listSheets(sid: Option[String], retry404: Boolean = false): Seq[String] = {
    val resp = expect(request("GET", s"${wbUrl(itemId())}/worksheets", None, sid, retry404),
      "worksheets list", 200)
    mapper.readTree(resp.body()).get("value").elements().asScala
      .map(_.get("name").asText()).toSeq
  }

  def sheetNames: Seq[String] = listSheets(None)

  private def usedRangeText(name: String, sid: String): Seq[Seq[String]] = {
    val resp = expect(request("GET",
      s"${wbUrl(itemId())}/worksheets('${odataName(name)}')/usedRange", None, Some(sid)),
      s"usedRange $name", 200)
    val text = mapper.readTree(resp.body()).get("text")
    if (text == null || text.isNull) Seq.empty
    else text.elements().asScala.map(row =>
      row.elements().asScala.map(c => if (c.isNull) "" else c.asText()).toSeq).toSeq
  }

  /** pull every sheet within ONE workbook session, fanning the per-sheet
    * usedRange reads out concurrently — the reference gathers them with
    * `asyncio.gather` (ducklakexl.py:478,548); here a bounded pool of
    * parallel HTTP calls, each still wrapped in the full A6/A9 retry
    * ladder. Order of the returned sheets stays the listing order.
    */
  def readAll(): Seq[XlsxCodec.Sheet] = {
    val sid = createSession()
    try {
      val names = listSheets(Some(sid))
      if (names.isEmpty) Seq.empty
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(readConcurrency, names.size))
        try {
          val futs = names.map(n => pool.submit(
            new java.util.concurrent.Callable[XlsxCodec.Sheet] {
              def call(): XlsxCodec.Sheet = (n, usedRangeText(n, sid))
            }))
          // surface the REAL failure, not its ExecutionException wrapper
          // (r5 advice); the finally below guarantees no read is still in
          // flight when closeSession runs
          try futs.map(_.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          }
        } finally {
          // cancel outstanding reads and WAIT for them: shutdown() alone
          // would race live requests against the closed session. If the
          // wait times out, a request may still be in flight — say so
          // (r6 advice: the ignored return value silently re-created
          // exactly the race this block claims to prevent) and give it
          // one more grace period before closeSession runs regardless.
          pool.shutdownNow()
          if (!pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)) {
            log.warn("readAll: cancelled sheet reads " +
              "did not terminate within 30s; extending wait before closing " +
              "the workbook session")
            if (!pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
              log.warn("readAll: sheet reads STILL " +
                "running after 90s; closing the session anyway — a late " +
                "response may hit a closed session (harmless 404)")
          }
        }
      }
    } finally closeSession(sid)
  }

  /** one sheet inside one short-lived session (the CAS probe: a single
    * usedRange read, not a whole-workbook pull)
    */
  def readSheet(name: String): Option[Seq[Seq[String]]] = {
    if (!exists) None
    else {
      val sid = createSession()
      try {
        if (!listSheets(Some(sid)).contains(name)) None
        else Some(usedRangeText(name, sid))
      } finally closeSession(sid)
    }
  }

  /** A17: a Graph workbook is created by uploading real xlsx bytes */
  private def createEmptyWorkbook(): Unit = {
    val tmp = Files.createTempFile("graft_graph", ".xlsx")
    try {
      XlsxCodec.write(tmp.toString, Seq(("Sheet1", Seq.empty)))
      val bytes = Files.readAllBytes(tmp)
      val b = HttpRequest.newBuilder(URI.create(s"$itemUrl:/content"))
        .header("Authorization", s"Bearer ${tokens.token()}")
        .header("Content-Type", "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
        .PUT(HttpRequest.BodyPublishers.ofByteArray(bytes))
        .build()
      val resp = http.send(b, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200 || resp.statusCode() == 201,
        s"workbook upload failed: HTTP ${resp.statusCode()}")
      cachedItemId = None // the upload may mint a new item id
    } finally Files.deleteIfExists(tmp)
  }

  def writeAll(sheets: Seq[XlsxCodec.Sheet]): Unit =
    writeChanged(sheets, sheets.map(_._1).toSet)

  /** one clear+patch pair per DIRTY sheet only — REST calls proportional
    * to what changed since pull, not to catalog size (see the trait doc)
    */
  override def writeChanged(sheets: Seq[XlsxCodec.Sheet], dirty: Set[String]): Unit = {
    if (!exists) createEmptyWorkbook()
    val sid = createSession()
    try {
      val existing = listSheets(Some(sid), retry404 = true).toSet
      sheets.withFilter(s => dirty.contains(s._1)).foreach { case (name, rows) =>
        if (!existing.contains(name))
          expect(request("POST", s"${wbUrl(itemId())}/worksheets/add",
            Some(mapper.writeValueAsString(Map("name" -> name).asJava)), Some(sid),
            retry404 = true), s"worksheets/add $name", 200, 201)
        expect(request("POST",
          s"${wbUrl(itemId())}/worksheets('${odataName(name)}')/usedRange/clear",
          Some("""{"applyTo": "contents"}"""), Some(sid)), s"clear $name", 200, 204)
        if (rows.nonEmpty) {
          val cols = math.max(rows.map(_.length).max, 1)
          val rect = rows.map(_.padTo(cols, "").asJava).asJava
          val addr = s"A1:${XlsxCodec.colName(cols - 1)}${rows.length}"
          expect(request("PATCH",
            s"${wbUrl(itemId())}/worksheets('${odataName(name)}')/range(address='$addr')",
            Some(mapper.writeValueAsString(Map("values" -> rect).asJava)), Some(sid)),
            s"range write $name", 200)
        }
      }
      // the overwrite contract: sheets absent from the intended state are
      // DELETED, so the bootstrap 'Sheet1' (and any sheet a schema change
      // removed) does not persist remotely — without this, Graph and
      // LocalXlsxRemote returned different sheet sets for the same state
      // (review-found). Excel requires >= 1 visible sheet, so deletion is
      // skipped only in the degenerate empty-workbook case.
      val wanted = sheets.map(_._1).toSet
      val stale = existing.filterNot(wanted.contains)
      if (wanted.nonEmpty) stale.foreach { name =>
        expect(request("DELETE",
          s"${wbUrl(itemId())}/worksheets('${odataName(name)}')",
          None, Some(sid)), s"worksheets delete $name", 200, 204)
      }
    } finally closeSession(sid)
  }
}

object ExcelRemote {
  /** reference client pick (ducklakexl.py:85-97): explicit driveId ->
    * Graph; a plain *.xlsx path that is not a URL -> local; else Graph
    */
  def pick(excelPath: String, driveId: Option[String] = None,
      readSharedFiles: Boolean = false): ExcelRemote =
    driveId match {
      case Some(d) => new GraphRemote(d, excelPath,
        GraphTokenProvider.fromEnv(readSharedFiles = readSharedFiles))
      case None if excelPath.toLowerCase.endsWith(".xlsx") &&
                   !excelPath.matches("(?i)^[a-z]+://.*") =>
        new LocalXlsxRemote(excelPath)
      case None => new GraphRemote("", excelPath,
        GraphTokenProvider.fromEnv(readSharedFiles = readSharedFiles))
    }
}
