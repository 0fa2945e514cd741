package graft.lake

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnPath, ParquetMetadata}
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file record counts and per-column min/max/null counts for the data
  * files a lake write just produced or `addDataFiles` registers: the rows
  * DuckLake's writer records in `ducklake_file_column_statistics`.
  *
  * A file's parquet footer answers, read on the driver, when every column
  * pairs its Spark type with the parquet type Spark writes for it (see
  * [[decoder]]) and the footer holds exact stats for it. The bounds are
  * then rendered by the same `Cast(_, StringType)` the job applies, so
  * both paths give the same strings. Every other file goes to [[viaJob]]:
  * one `input_file_name` aggregation job per bounded batch. Known
  * misses, each a verified difference: INT96 (Spark's TIMESTAMP) has no
  * defined sort order, so its footer bounds are no bounds; a nested
  * column's leaf null count is not its top-level null count;
  * parquet-java drops the bounds of a column holding NaN or a value over
  * 4 KB, and widens a zero bound to `[-0.0, 0.0]`.
  */
object FileStats {
  /** (min, max, null count) of one column; bounds as the catalog stores them */
  type ColumnStats = (Option[String], Option[String], Long)
  /** record count, and the stats of each column by column id */
  type Stats = (Long, Map[Long, ColumnStats])

  private val SparkVersionKey = "org.apache.spark.version"
  private val LegacyDateTimeKey = "org.apache.spark.legacyDateTime"

  /** the stats of every path, by path: from its footer where the footer
    * answers exactly (`footers` holds any the caller has read already),
    * the rest through [[viaJob]]
    */
  def collect(spark: SparkSession, paths: Seq[String], schema: StructType,
      cols: Vector[ColumnRow], footers: Map[String, ParquetMetadata] = Map.empty)
      : Map[String, Stats] = {
    val all = footers ++ readFooters(paths.filterNot(footers.contains))
    val conf = spark.sessionState.conf
    val fromFooters = SQLConf.withExistingConf(conf) {
      paths.flatMap(p => fromFooter(all(p), schema, cols, conf.sessionLocalTimeZone).map(p -> _))
        .toMap
    }
    fromFooters ++ viaJob(spark, paths.filterNot(fromFooters.contains), schema, cols)
  }

  /** each path's footer, read with one set of read options: on a plain
    * configuration, as the default one builds a Hadoop configuration per
    * call (about 10 ms and 0.4 MB each on a 4-vCPU host)
    */
  def readFooters(paths: Seq[String]): Map[String, ParquetMetadata] = {
    val options = ParquetReadOptions.builder(new PlainParquetConfiguration()).build()
    paths.map { p =>
      val file = new LocalInputFile(Paths.get(p))
      val in = file.newStream()
      p -> (try ParquetFileReader.readFooter(file, options, in) finally in.close())
    }.toMap
  }

  /** the top-level field names of a file, as `spark.read.parquet` sees them */
  def fieldNames(md: ParquetMetadata): Seq[String] =
    md.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq

  /** the file's stats, when its footer answers every column exactly */
  private def fromFooter(md: ParquetMetadata, schema: StructType, cols: Vector[ColumnRow],
      tz: String): Option[Stats] = {
    val meta = md.getFileMetaData
    val blocks = md.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    // the job finds no row of a zero-row file, whatever its columns
    if (rows == 0) return Some((0L, emptyStats(cols)))
    // the exactness rules below are parquet-java's
    if (!Option(meta.getCreatedBy).exists(_.startsWith("parquet-mr"))) return None
    val kv = meta.getKeyValueMetaData
    // a DATE a Spark 3+ writer stored without rebasing reads back as stored
    val sparkMajor = Option(kv.get(SparkVersionKey)).flatMap(_.takeWhile(_ != '.').toIntOption)
    val provenDates = !kv.containsKey(LegacyDateTimeKey) && sparkMajor.exists(_ >= 3)
    val fields = meta.getSchema.getFields.asScala.toSeq
    val perCol = cols.map { c =>
      (for {
        sf <- schema.fields.find(_.name.equalsIgnoreCase(c.columnName))
        // the one field Spark resolves the column to, case-sensitive or not
        f <- fields.filter(_.getName.equalsIgnoreCase(c.columnName)) match {
          case Seq(f) if f.getName == c.columnName && f.isPrimitive &&
              !f.isRepetition(Type.Repetition.REPEATED) => Some(f.asPrimitiveType)
          case _ => None
        }
        toSpark <- decoder(sf.dataType, f, provenDates)
        st <- merged(blocks, f)
        if !st.hasNonNullValue || (exactBound(st.genericGetMin) && exactBound(st.genericGetMax))
      } yield {
        def render(v: Any): Option[String] =
          Option(Cast(Literal(toSpark(v), sf.dataType), StringType, Some(tz)).eval())
            .map(_.toString).flatMap(CatalogState.optValue)
        if (st.hasNonNullValue) (render(st.genericGetMin), render(st.genericGetMax), st.getNumNulls)
        else (None, None, st.getNumNulls)
      }).map(c.columnId -> _)
    }
    if (perCol.forall(_.isDefined)) Some((rows, perCol.flatten.toMap)) else None
  }

  /** one column's stats over all row groups; None unless every row group
    * has a null count and, unless it is all null, both bounds
    */
  private def merged(blocks: Seq[BlockMetaData], f: PrimitiveType): Option[Statistics[_]] = {
    val path = ColumnPath.get(f.getName)
    val acc: Statistics[_] = Statistics.createStats(f)
    val exact = blocks.forall { b =>
      b.getColumns.asScala.find(_.getPath == path).map(_.getStatistics).exists { st =>
        val ok = st != null && st.isNumNullsSet &&
          (st.hasNonNullValue || st.getNumNulls == b.getRowCount)
        if (ok) acc.mergeStatistics(st)
        ok
      }
    }
    if (exact) Some(acc) else None
  }

  /** parquet-java stores `{0.0}` as `[-0.0, 0.0]`, where Spark's min/max
    * keep the sign; a NaN bound is never written, but is not exact either
    */
  private def exactBound(v: Any): Boolean = v match {
    case d: java.lang.Double => !d.isNaN && d.doubleValue != 0.0
    case f: java.lang.Float => !f.isNaN && f.floatValue != 0.0f
    case _ => true
  }

  /** parquet statistic value -> Spark internal value, for the pairings
    * of a Spark type with the parquet type Spark writes for it whose
    * footer bounds equal Spark's `min`/`max`
    */
  private def decoder(dt: DataType, f: PrimitiveType, provenDates: Boolean): Option[Any => Any] = {
    val ann = Option(f.getLogicalTypeAnnotation)
    def signed(bits: Int): Boolean = ann.exists {
      case i: IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == bits
      case _ => false
    }
    def decimal(d: DecimalType): Boolean =
      ann.contains(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
    (dt, f.getPrimitiveTypeName) match {
      case (ByteType, INT32) if signed(8) => Some(v => v.asInstanceOf[Int].toByte)
      case (ShortType, INT32) if signed(16) => Some(v => v.asInstanceOf[Int].toShort)
      case (IntegerType, INT32) if ann.isEmpty || signed(32) => Some(identity)
      case (LongType, INT64) if ann.isEmpty || signed(64) => Some(identity)
      case (BooleanType, BOOLEAN) | (FloatType, FLOAT) | (DoubleType, DOUBLE) if ann.isEmpty =>
        Some(identity)
      case (s: StringType, BINARY) if s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID &&
          ann.contains(LogicalTypeAnnotation.stringType()) =>
        Some(v => UTF8String.fromBytes(v.asInstanceOf[Binary].getBytes))
      case (DateType, INT32) if provenDates && ann.contains(LogicalTypeAnnotation.dateType()) =>
        Some(identity)
      case (d: DecimalType, INT32 | INT64) if decimal(d) =>
        Some(v => Decimal(v.asInstanceOf[Number].longValue, d.precision, d.scale))
      case (d: DecimalType, FIXED_LEN_BYTE_ARRAY) if decimal(d) =>
        Some { v =>
          val unscaled = new java.math.BigInteger(v.asInstanceOf[Binary].getBytes)
          Decimal(new java.math.BigDecimal(unscaled, d.scale), d.precision, d.scale)
        }
      case (TimestampNTZType, INT64)
          if ann.contains(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)) =>
        Some(identity)
      case _ => None
    }
  }

  private def emptyStats(cols: Vector[ColumnRow]): Map[Long, ColumnStats] =
    cols.map(c => c.columnId -> ((None, None, 0L): ColumnStats)).toMap

  /** statistics batch width: files per aggregation job. One groupBy row
    * per file × (3 stats × column-count + 1) cells collects to the
    * driver per batch, so the driver-resident footprint is bounded by
    * the BATCH (≈8k files × 30 cols × 3 strings ≈ tens of MB), never by
    * the write. Only files the footers cannot answer reach the job.
    */
  private def batchSize(spark: SparkSession): Int =
    spark.conf.get("spark.graft.fileStatsBatch", "8192").toInt

  /** the stats of every path through aggregation jobs, [[batchSize]]
    * files per job, each grouped by `input_file_name`
    */
  private def viaJob(spark: SparkSession, paths: Seq[String], schema: StructType,
      cols: Vector[ColumnRow]): Map[String, Stats] =
    paths.grouped(batchSize(spark)).flatMap(jobBatch(spark, _, schema, cols)).toMap

  /** record count + min/max/nullcount per column for one bounded batch of
    * files in ONE agg job grouped by `input_file_name`, AQE off
    */
  private def jobBatch(spark: SparkSession, paths: Seq[String], schema: StructType,
      cols: Vector[ColumnRow]): Map[String, Stats] = {
    val aqe = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.get(aqe, "true")
    spark.conf.set(aqe, "false")
    try {
      val fdf = spark.read.schema(schema).parquet(paths: _*)
      def colq(name: String) = fdf(s"`$name`")
      // nested/binary columns carry NO min/max (maps are not even orderable
      // in Spark; an array/struct/binary min cast to string is not a usable
      // pruning bound) — null count still applies to every type
      def statable(name: String): Boolean =
        schema.fields.find(_.name.equalsIgnoreCase(name)).forall(_.dataType match {
          case _: ArrayType | _: StructType | _: MapType | BinaryType => false
          case _ => true
        })
      val statAggs = cols.flatMap(c => Seq(
        (if (statable(c.columnName)) min(colq(c.columnName)).cast(StringType)
         else lit(null).cast(StringType)).as(s"mn_${c.columnOrder}"),
        (if (statable(c.columnName)) max(colq(c.columnName)).cast(StringType)
         else lit(null).cast(StringType)).as(s"mx_${c.columnOrder}"),
        sum(when(colq(c.columnName).isNull, 1L).otherwise(0L)).as(s"nl_${c.columnOrder}"))) :+
        count(lit(1)).as("cnt")
      val rows = fdf.groupBy(input_file_name().as("_file"))
        .agg(statAggs.head, statAggs.tail: _*).collect()
      val byNorm = rows.map(r => normUri(r.getAs[String]("_file")) -> r).toMap
      paths.map { p =>
        byNorm.get(normUri(p)) match {
          // a bound the workbook reads back as NULL ('', 'None', 'nan', …)
          // is no bound here either: the writer's catalog equals a pull's
          case Some(r) => p -> ((r.getAs[Long]("cnt"), cols.map(c => c.columnId -> ((
            Option(r.getAs[String](s"mn_${c.columnOrder}")).flatMap(CatalogState.optValue),
            Option(r.getAs[String](s"mx_${c.columnOrder}")).flatMap(CatalogState.optValue),
            r.getAs[Long](s"nl_${c.columnOrder}")))).toMap))
          case None => p -> ((0L, emptyStats(cols))) // zero-row part file
        }
      }.toMap
    } finally spark.conf.set(aqe, aqePrev)
  }

  /** `input_file_name` yields `file:///…` URIs; catalog paths are plain */
  private[graft] def normUri(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
}
