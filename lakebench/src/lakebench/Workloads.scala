package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.api.DuckLakeXLSpark
import graft.lake.{CatalogState, XlsxSheet}
import graft.xlsx.{LocalXlsxRemote, XlsxCodec}

/** One timed statement: `build` is the call into the library (`sql()` or a
  * query builder), `materialize` produces its result, and `check` compares
  * the result with the answer the generator or the oracle knows (untimed;
  * None = correct).
  */
final case class Stmt(label: String, text: String, build: () => DataFrame,
    materialize: DataFrame => Array[Row],
    check: (DataFrame, Array[Row]) => Option[String])

trait Workload {
  /** Generates this run's inputs under `dir` from the seed. */
  def generate(dir: Path): Unit
  /** Opens the generated inputs. Set-up opens them several times and
    * keeps the last one.
    */
  def open(): Unit
  /** Statements of the next round, in seeded order. */
  def round(): Seq[Stmt]
  /** Rounds run untimed and unchecked after the last `open`, until the
    * JIT has compiled the statement path (the first timed rounds ran
    * 20-40% slower without them)
    */
  def warmUpRounds: Int
  /** Timed rounds whose statements form the per-layer window (fixed per
    * workload, so the exact-count witnesses repeat across runs)
    */
  def windowRounds: Int
  /** End-of-run checks over the whole state; each string is a failure. */
  def finish(): Seq[String]
  /** Bytes the workload keeps stored at the end of the run. */
  def storedBytes: Long
  /** Input sizes for the disk record. */
  def sizes: Map[String, Any]
  /** The traced transport, when the run is traced and the workload has one. */
  def remote: Option[TracingRemote]
  /** Isolated calls into single layers (traced runs only); 0 where the
    * workload has no lake
    */
  def layerProbes(statements: Seq[String]): Map[String, Double] =
    LakeFixture.ProbeNames.map(_ -> 0.0).toMap
}

object Workload {
  def collect(df: DataFrame): Array[Row] = df.collect()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** A lake whose workbook catalog lists 10,001 data files.
  *
  * The catalog is synthesised as workbook rows, the way `LakeScaleProbe`
  * does it, not by thousands of `sql()` calls: a seed lake gets the two
  * tables through `sql()`, its catalog is read back, the one data file of
  * `big` is replicated to 9,999 more catalog rows (with their column
  * statistics), and the workbook is written once through the codec. Every
  * replica row points at a byte copy of the real parquet file, so each
  * `ducklake_data_file` row names an existing file whose row count matches
  * the catalog. The workloads never scan `big`; it only sizes the catalog.
  * `t` is the small real table the statements read and write.
  */
final class LakeFixture(spark: SparkSession, seed: Long, trace: Boolean) {
  import LakeFixture.{Files10k, SmallRows}
  var dir: Path = _
  var lake: DuckLakeXLSpark = _
  var remote: Option[TracingRemote] = None
  /** id -> (v, x), as generated */
  var rows: Map[Int, (String, Double)] = Map.empty
  var dataFileRows: Long = 0L
  var catalogRows: Long = 0L

  def xlsx: String = dir.resolve("lake.xlsx").toString
  def data: String = dir.resolve("data").toString

  def generate(into: Path): Unit = {
    dir = into
    val rnd = new Random(seed)
    rows = (1 to SmallRows).map(i => i -> LakeFixture.value(rnd)).toMap
    val seedXlsx = dir.resolve("seed.xlsx").toString
    val seedLake = new DuckLakeXLSpark(spark, seedXlsx, data)
    seedLake.sql(
      "CREATE TABLE big(id INTEGER, v VARCHAR, d DOUBLE, s VARCHAR);" +
      "INSERT INTO big VALUES (1,'a',1.5,'x'),(2,'b',2.5,'y');" +
      "CREATE TABLE t(id INTEGER, v VARCHAR, x DOUBLE);" +
      "INSERT INTO t VALUES " + rows.toSeq.sortBy(_._1)
        .map { case (id, vx) => LakeFixture.tuple(id, vx) }.mkString(","))

    val st = CatalogState.fromSheets(
      XlsxCodec.read(seedXlsx).map { case (n, r) => XlsxSheet(n, r) })
    val bigId = st.tableByName("big").get.tableId
    val template = st.dataFiles.filter(_.tableId == bigId) match {
      case Seq(f) => f
      case fs => sys.error(s"expected one data file for big, got ${fs.size}")
    }
    val templateStats = st.fileColumnStats.filter(_.dataFileId == template.dataFileId)
    val src = Paths.get(data).resolve(template.path)
    val parent = Option(Paths.get(template.path).getParent)
    val base = st.nextFileId
    val copies = (0 until Files10k - 1).map { i =>
      val rel = parent.fold(Paths.get(s"scale_$i.parquet"))(_.resolve(s"scale_$i.parquet"))
      LakeFixture.replicate(src, Paths.get(data).resolve(rel))
      template.copy(dataFileId = base + i, path = rel.toString)
    }
    val head = st.snapshots.maxBy(_.snapshotId)
    val synth = st.copy(
      dataFiles = st.dataFiles ++ copies,
      fileColumnStats = st.fileColumnStats ++ copies.flatMap(f =>
        templateStats.map(_.copy(dataFileId = f.dataFileId))),
      tableStats = st.tableStats.map(ts =>
        if (ts.tableId == bigId) ts.copy(recordCount = template.recordCount * Files10k) else ts),
      snapshots = st.snapshots.map(s =>
        if (s.snapshotId == head.snapshotId) s.copy(nextFileId = base + Files10k) else s))
    val sheets = synth.toSheets
    XlsxCodec.write(xlsx, sheets.map(s => (s.name, s.rows)))
    Files.delete(Paths.get(seedXlsx))
    dataFileRows = synth.dataFiles.size.toLong
    catalogRows = sheets.map(_.rows.size.toLong - 1).sum
  }

  def open(): Unit = {
    remote = if (trace) Some(new TracingRemote(new LocalXlsxRemote(xlsx), xlsx)) else None
    lake = new DuckLakeXLSpark(spark, xlsx, data, remoteOverride = remote)
  }

  def workbookBytes: Long = Files.size(Paths.get(xlsx))
  def dataBytes: Long = Workload.dirBytes(Paths.get(data))

  def sizes: Map[String, Any] = Map(
    "catalog_data_files" -> dataFileRows, "catalog_rows" -> catalogRows,
    "workbook_bytes" -> workbookBytes, "data_bytes" -> dataBytes)

  /** one read-back row as generated */
  def rowMatches(r: Row, id: Int, vx: (String, Double)): Boolean =
    r.getAs[Number](0).intValue == id && r.getString(1) == vx._1 &&
      r.getDouble(2) == vx._2

  /** isolated calls into the lake and xlsx layers on this run's workbook */
  def layerProbes(statements: Seq[String]): Map[String, Double] = {
    def med(reps: Int)(body: => Unit): Double = Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
    val sheets = XlsxCodec.read(xlsx)
    val xs = sheets.map { case (n, r) => XlsxSheet(n, r) }
    val st = CatalogState.fromSheets(xs)
    val spare = dir.resolve("probe.xlsx").toString
    val out = Map(
      "xlsx.decode_s" -> med(5)(XlsxCodec.read(xlsx)),
      "catalog.from_sheets_s" -> med(5)(CatalogState.fromSheets(xs)),
      "catalog.to_sheets_s" -> med(5)(st.toSheets),
      "xlsx.encode_write_s" -> med(5)(XlsxCodec.write(spare, sheets)),
      "router.split_classify_s" -> med(5)(statements.foreach { s =>
        graft.lake.StatementRouter.split(s).foreach(graft.lake.StatementRouter.classify)
      }) / math.max(1, statements.size))
    Files.deleteIfExists(Paths.get(spare))
    out
  }
}

object LakeFixture {
  val ProbeNames = Seq("xlsx.decode_s", "catalog.from_sheets_s", "catalog.to_sheets_s",
    "xlsx.encode_write_s", "router.split_classify_s")
  val Files10k = 10000
  val SmallRows = 200

  def value(rnd: Random): (String, Double) =
    (rnd.alphanumeric.take(8).mkString, rnd.nextInt(10000000) / 100.0)

  /** a second name for the template file: a hard link where the file
    * system has them (10k copies took 2 s), else a copy
    */
  def replicate(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch { case _: UnsupportedOperationException | _: java.io.IOException => Files.copy(src, dst) }

  /** SQL literal tuple; the double renders without the default locale */
  def tuple(id: Int, vx: (String, Double)): String =
    s"($id, '${vx._1}', ${java.math.BigDecimal.valueOf(vx._2).toPlainString})"
}

/** Read-only statements over the 10k-file lake, in seeded round-robin. */
final class LakeRead(spark: SparkSession, seed: Long, trace: Boolean) extends Workload {
  private val fx = new LakeFixture(spark, seed, trace)
  private val rnd = new Random(seed * 1000003L + 1)

  def generate(dir: Path): Unit = fx.generate(dir)
  def open(): Unit = fx.open()
  def warmUpRounds: Int = 1
  def windowRounds: Int = 2
  def remote: Option[TracingRemote] = fx.remote
  def storedBytes: Long = fx.workbookBytes + fx.dataBytes
  def sizes: Map[String, Any] = fx.sizes
  def finish(): Seq[String] = Nil
  override def layerProbes(statements: Seq[String]): Map[String, Double] =
    fx.layerProbes(statements)

  private def one(label: String, sql: String)(ok: Array[Row] => Boolean): Stmt =
    Stmt(label, sql, () => fx.lake.sql(sql), Workload.collect, (_, rows) =>
      if (ok(rows)) None else Some(s"$label: wrong answer ${rows.mkString(",")} for $sql"))

  def round(): Seq[Stmt] = {
    val k = 1 + rnd.nextInt(LakeFixture.SmallRows)
    val vx = fx.rows(k)
    rnd.shuffle(Seq(
      one("select_1", "SELECT 1 AS one")(r =>
        r.length == 1 && r(0).getAs[Number](0).longValue == 1L),
      one("count_small", "SELECT count(*) AS n FROM t")(r =>
        r.length == 1 && r(0).getLong(0) == LakeFixture.SmallRows),
      one("point_select", s"SELECT id, v, x FROM t WHERE id = $k")(r =>
        r.length == 1 && fx.rowMatches(r(0), k, vx)),
      one("meta_count", "SELECT count(*) AS n FROM ducklake_data_file")(r =>
        r.length == 1 && r(0).getLong(0) == fx.dataFileRows)))
  }
}

/** 1-row INSERT / UPDATE / DELETE on the small table of the 10k-file lake.
  * Each statement is one `sql()` script: the write, then a point SELECT
  * that reads the written key back, so every statement changes the
  * workbook and its answer shows the write. The benchmark keeps a model
  * of the table; every read-back is checked against it and the whole
  * table is compared with it, through a freshly opened lake, at the end.
  */
final class LakeWrite(spark: SparkSession, seed: Long, trace: Boolean) extends Workload {
  private val fx = new LakeFixture(spark, seed, trace)
  private val rnd = new Random(seed * 1000003L + 2)
  private var model: Map[Int, (String, Double)] = Map.empty
  private var nextId = LakeFixture.SmallRows + 1

  def generate(dir: Path): Unit = {
    fx.generate(dir)
    model = fx.rows
  }
  def open(): Unit = fx.open()
  def warmUpRounds: Int = 1
  def windowRounds: Int = 2
  def remote: Option[TracingRemote] = fx.remote
  def storedBytes: Long = fx.workbookBytes + fx.dataBytes
  def sizes: Map[String, Any] = fx.sizes
  override def layerProbes(statements: Seq[String]): Map[String, Double] =
    fx.layerProbes(statements)

  private def readBack(k: Int) = s"; SELECT id, v, x FROM t WHERE id = $k"

  /** the expected read-back is captured when the statement is generated,
    * which is when the model applies the write
    */
  private def stmt(label: String, sql: String, k: Int): Stmt = {
    val want = model.get(k)
    Stmt(label, sql + readBack(k), () => fx.lake.sql(sql + readBack(k)), Workload.collect, (_, rows) =>
      (want, rows.toSeq) match {
        case (None, Seq()) => None
        case (Some(vx), Seq(r)) if fx.rowMatches(r, k, vx) => None
        case _ => Some(s"$label: read-back of id $k gave ${rows.mkString(",")}, want $want")
      })
  }

  private def liveKey(): Int = {
    val keys = model.keys.toIndexedSeq.sorted
    keys(rnd.nextInt(keys.size))
  }

  def round(): Seq[Stmt] =
    rnd.shuffle(Seq("insert", "update", "delete")).map {
      case "insert" =>
        val (k, vx) = (nextId, LakeFixture.value(rnd))
        nextId += 1
        model += k -> vx
        val t = LakeFixture.tuple(k, vx)
        stmt("insert", s"INSERT INTO t VALUES $t", k)
      case "update" =>
        val (k, vx) = (liveKey(), LakeFixture.value(rnd))
        model += k -> vx
        val x = java.math.BigDecimal.valueOf(vx._2).toPlainString
        stmt("update", s"UPDATE t SET v = '${vx._1}', x = $x WHERE id = $k", k)
      case _ =>
        val k = liveKey()
        model -= k
        stmt("delete", s"DELETE FROM t WHERE id = $k", k)
    }

  def finish(): Seq[String] = {
    val fresh = new DuckLakeXLSpark(spark, fx.xlsx, fx.data)
    val got = fresh.sql("SELECT id, v, x FROM t").collect()
      .map(r => r.getAs[Number](0).intValue -> (r.getString(1), r.getDouble(2))).toMap
    if (got == model) Nil
    else Seq(s"final table differs from the model: ${got.size} rows vs ${model.size}, " +
      s"${(got.toSet diff model.toSet).take(3)} / ${(model.toSet diff got.toSet).take(3)}")
  }
}

/** The Face A headline queries of `SparkEntry.queries` over sf0.1, each
  * built and then materialised through the noop sink as `Bench` does.
  * Answers are compared with digests of the DuckDB oracle's answers to
  * `SparkEntry.oracleSql`, stored in the benchmark's files.
  */
final class QueryHeadline(spark: SparkSession, seed: Long, sfDir: String,
    oracle: Map[String, (Long, String)]) extends Workload {
  import QueryHeadline.{InputTables, Queries}
  private val rnd = new Random(seed * 1000003L + 3)

  /** the inputs are the fixed sf0.1 tables */
  def generate(dir: Path): Unit = ()
  /** registers the tables and builds (analyses) every query */
  def open(): Unit = {
    graft.ops.Tables.ensure(spark, sfDir)
    Queries.foreach(q => graft.SparkEntry.queries(q)(spark, sfDir))
  }
  def warmUpRounds: Int = 1
  def windowRounds: Int = 2
  def remote: Option[TracingRemote] = None
  def finish(): Seq[String] = Nil
  def storedBytes: Long = InputTables.map(t => Files.size(Paths.get(sfDir, s"$t.parquet"))).sum
  def sizes: Map[String, Any] = Map("sf_dir" -> sfDir, "input_bytes" -> storedBytes)

  def round(): Seq[Stmt] = rnd.shuffle(Queries).map { q =>
    Stmt(q, "", () => graft.SparkEntry.queries(q)(spark, sfDir),
      df => { df.write.format("noop").mode("overwrite").save(); Array.empty[Row] },
      (df, _) => {
        val got = ResultDigest.of(df.columns.toSeq, df.collect().iterator)
        spark.catalog.clearCache()
        if (got == oracle(q)) None
        else Some(s"$q: digest $got differs from the oracle's ${oracle(q)}")
      })
  }
}

object QueryHeadline {
  val Queries = Seq("q_agg_groupby", "q_join_inner", "q_join_multiway",
    "q_win_topk_per_group", "q_fn_json")
  val InputTables = Seq("region", "nation", "customer", "supplier", "orders", "lineitem", "events")
}

/** Digests of the DuckDB oracle's answers (see `make_oracle.py`), and the
  * sizes of the input files they were made from: a run over other inputs
  * is refused rather than compared.
  */
object Oracle {
  def load(path: Path, sfDir: String): Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val tables = root.get("input_bytes")
    tables.fieldNames().forEachRemaining { t =>
      val f = Paths.get(sfDir, s"$t.parquet")
      val have = if (Files.exists(f)) Files.size(f) else -1L
      require(have == tables.get(t).asLong,
        s"$f has $have bytes; the oracle digests were made over ${tables.get(t).asLong}")
    }
    val qs = root.get("queries")
    val out = Map.newBuilder[String, (Long, String)]
    qs.fieldNames().forEachRemaining { q =>
      out += q -> (qs.get(q).get("rows").asLong, qs.get(q).get("digest").asText)
    }
    out.result()
  }
}
