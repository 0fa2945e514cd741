package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.api.DuckLakeXLSpark
import graft.xlsx.{ExcelRemote, LocalXlsxRemote, XlsxCodec}

/** Every catalog-writing entry point runs in the one pull -> run -> push
  * bracket: one `readAll` for the pull, one `readSheet` for the CAS probe,
  * and whatever the body committed reaches the workbook.
  */
class CommitBracketSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** a local workbook that counts transport calls by name */
  private final class Counting(path: String) extends ExcelRemote {
    private val inner = new LocalXlsxRemote(path)
    val calls = ArrayBuffer.empty[String]
    def count(op: String): Int = calls.count(_ == op)
    def exists: Boolean = { calls += "exists"; inner.exists }
    def sheetNames: Seq[String] = { calls += "sheetNames"; inner.sheetNames }
    def readAll(): Seq[XlsxCodec.Sheet] = { calls += "readAll"; inner.readAll() }
    def readSheet(name: String): Option[Seq[Seq[String]]] = {
      calls += "readSheet"; inner.readSheet(name)
    }
    def writeAll(sheets: Seq[XlsxCodec.Sheet]): Unit = { calls += "write"; inner.writeAll(sheets) }
  }

  private def freshDir(): String = Files.createTempDirectory("graft_bracket").toString

  test("compact pushes its inline flush even when nothing is left to merge") {
    val dir = freshDir()
    val lake = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data",
      inlineRowLimit = 10)
    lake.sql("CREATE TABLE t(id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    lake.compact("t")
    val reopened = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data",
      inlineRowLimit = 10)
    val st = reopened.currentState
    val tid = st.tableByName("t").get.tableId
    assert(st.inlinedOf(tid).isEmpty, "the flushed rows are still inlined in the workbook")
    assert(st.filesOf(tid).size == 1)
    assert(reopened.sql("SELECT count(*) AS c FROM t").head().getLong(0) == 2L)
  }

  test("each catalog-writing entry point makes one pull and one CAS probe") {
    val dir = freshDir()
    val remote = new Counting(s"$dir/lake.xlsx")
    val lake = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data",
      remoteOverride = Some(remote))
    lake.sql("CREATE TABLE t(id INTEGER)")
    lake.sql("INSERT INTO t VALUES (1); INSERT INTO t VALUES (2)")
    val ext = s"$dir/ext"
    spark.range(3).selectExpr("CAST(id AS INT) AS id").coalesce(1).write.parquet(ext)
    val extFile = Files.list(java.nio.file.Paths.get(ext)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).next()
    val s = spark
    import s.implicits._
    val entryPoints: Seq[(String, () => Unit)] = Seq(
      "sql" -> (() => lake.sql("INSERT INTO t VALUES (3)")),
      "compact" -> (() => lake.compact("t")),
      "addDataFiles" -> (() => lake.addDataFiles("t", Seq(extFile))),
      "appendStreamBatch" -> (() =>
        lake.appendStreamBatch("t", Seq(7).toDF("id"), batchId = 0L)),
      "insertFromCatalog" -> (() =>
        spark.sql(s"INSERT INTO ${lake.lakeName}.main.t VALUES (8)")),
      "expireSnapshots" -> (() =>
        lake.expireSnapshots(lake.currentState.currentSnapshot)),
      "vacuum" -> (() => lake.vacuum()))
    entryPoints.foreach { case (name, run) =>
      remote.calls.clear()
      run()
      assert(remote.count("readAll") == 1, s"$name: ${remote.calls}")
      assert(remote.count("readSheet") == 1, s"$name: ${remote.calls}")
      assert(remote.count("exists") == 1, s"$name: ${remote.calls}")
    }
    // everything the entry points committed is in the workbook
    val reopened = new DuckLakeXLSpark(spark, s"$dir/lake.xlsx", s"$dir/data")
    assert(reopened.sql("SELECT count(*) AS c FROM t").head().getLong(0) == 8L)
  }
}
