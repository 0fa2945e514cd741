package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.zip.ZipFile

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.xlsx.{ExcelRemote, XlsxCodec}

/** One call into the workbook transport, attributed to the statement that
  * was running when it was made (-1 = set-up, outside any timed statement).
  */
final case class XlsxCall(stmt: Int, op: String, seconds: Double,
    xmlBytes: Long, dirtySheets: Int, crc: Long)

/** The benchmark's view of the `xlsx` layer: an [[ExcelRemote]] that times
  * and counts every call before delegating to the real local transport.
  * It is handed to the lake through the public `remoteOverride` argument,
  * so the library itself carries no instrumentation.
  *
  * Byte counts are the UNCOMPRESSED sizes of the workbook's zip entries
  * (the XML the codec parses or encodes). Unlike the compressed file size
  * they depend only on the cell text, which the seed fixes, so they repeat
  * exactly across runs.
  */
final class TracingRemote(inner: ExcelRemote, path: String) extends ExcelRemote {
  @volatile var stmt: Int = -1
  val calls = mutable.ArrayBuffer.empty[XlsxCall]

  private def timed[A](op: String)(body: => A)(after: A => (Long, Int, Long)): A = {
    val t0 = System.nanoTime()
    val out = body
    val dt = (System.nanoTime() - t0) / 1e9
    val (bytes, dirty, crc) = after(out)
    calls.synchronized { calls += XlsxCall(stmt, op, dt, bytes, dirty, crc) }
    out
  }

  /** (uncompressed bytes, combined CRC-32 of every entry) from the zip
    * central directory — the workbook's content identity
    */
  private def identity(): (Long, Long) = {
    val zf = new ZipFile(path)
    try zf.entries().asScala.foldLeft((0L, 17L)) { case ((b, c), e) =>
      (b + e.getSize, c * 31 + e.getCrc)
    } finally zf.close()
  }

  def exists: Boolean = timed("exists")(inner.exists)(_ => (0L, 0, 0L))
  def sheetNames: Seq[String] = timed("sheet_names")(inner.sheetNames)(_ => (0L, 0, 0L))
  def readAll(): Seq[XlsxCodec.Sheet] = timed("read_all")(inner.readAll()) { _ =>
    val (b, c) = identity(); (b, 0, c)
  }
  def readSheet(name: String): Option[Seq[Seq[String]]] =
    timed("read_sheet")(inner.readSheet(name))(_ => (0L, 0, 0L))
  def writeAll(sheets: Seq[XlsxCodec.Sheet]): Unit =
    timed("write")(inner.writeAll(sheets)) { _ =>
      val (b, c) = identity(); (b, sheets.size, c)
    }
  override def writeChanged(sheets: Seq[XlsxCodec.Sheet], dirty: Set[String]): Unit =
    timed("write")(inner.writeChanged(sheets, dirty)) { _ =>
      val (b, c) = identity(); (b, dirty.size, c)
    }
}

/** Spark-side counts for one statement phase ("build" = inside the
  * `sql()` call or the query builder, "materialize" = the action that
  * produces the result).
  */
final class JobStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var jobWallMs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
}

/** Listens on the scheduler and attributes jobs, stages and tasks to the
  * statement and phase that submitted them, using the local properties
  * the runner sets on the client thread (jobs inherit them).
  */
final class SparkTrace extends SparkListener {
  val StmtKey = "lakebench.stmt"
  val PhaseKey = "lakebench.phase"
  private val byKey = new ConcurrentHashMap[(Int, String), JobStats]()
  private val stageKey = new ConcurrentHashMap[Int, (Int, String)]()
  private val jobKey = new ConcurrentHashMap[Int, ((Int, String), Long)]()

  private def stats(k: (Int, String)) = byKey.computeIfAbsent(k, _ => new JobStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val k = (Option(p).flatMap(x => Option(x.getProperty(StmtKey))).map(_.toInt).getOrElse(-1),
      Option(p).flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("none"))
    jobKey.put(e.jobId, (k, e.time))
    e.stageIds.foreach(stageKey.put(_, k))
    val s = stats(k); s.synchronized { s.jobs += 1 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.get(e.jobId)).foreach { case (k, t0) =>
      val s = stats(k); s.synchronized { s.jobWallMs += e.time - t0 }
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val s = stats(k); s.synchronized { s.stages += 1 }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val s = stats(k)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.taskRunMs += m.executorRunTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  def get(stmt: Int, phase: String): JobStats =
    Option(byKey.get((stmt, phase))).getOrElse(new JobStats)
}

/** Plan-phase time (analysis, optimization, planning) of each action, from
  * its `QueryExecution.tracker`. Events carry no statement id; in a traced
  * run the runner drains the listener bus after every statement and takes
  * what arrived, so the closed loop on one client thread attributes each
  * action to the statement that ran it.
  */
final class PlanTrace extends QueryExecutionListener {
  private val planMs = new java.util.concurrent.atomic.AtomicLong
  private def add(qe: QueryExecution): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  /** plan seconds since the last take */
  def take(): Double = planMs.getAndSet(0L) / 1e3
}
