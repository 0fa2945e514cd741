package lakebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

object Stats {
  /** median: mean of the two middle values for an even count */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** nearest-rank percentile, p in (0, 100] */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** bytes allocated so far by the calling thread */
  def allocatedBytes(): Long =
    ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean => t.getCurrentThreadAllocatedBytes
      case _ => 0L
    }

  /** heap bytes allocated so far by every thread of the process: the
    * client plus Spark's executor threads (local mode), so it counts the
    * work a statement does wherever it runs
    */
  def processAllocatedBytes(): Long =
    ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes
      case _ => 0L
    }

  /** Live heap after forced collections, once it has settled: Spark's
    * ContextCleaner frees broadcast and shuffle blocks asynchronously
    * after a collection finds their handles unreachable, so one collection
    * can still count them (one run read 186 MB where the others read 73).
    */
  def liveHeapMb(): Double = {
    def used() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    var prev = Double.MaxValue
    var cur = used()
    var i = 0
    while (i < 8 && math.abs(prev - cur) > 0.5) {
      System.gc(); Thread.sleep(200)
      prev = cur; cur = used(); i += 1
    }
    cur
  }
}

/** Host-speed witnesses: figures no change to this repository can move,
  * recorded beside every result so a slow host can be told apart from a
  * slower program. They go to the disk record only, never into metrics.
  */
object HostWitness {
  /** a synthetic worksheet (inline-string cells, as the codec writes
    * them), deflated once; the XML kernel inflates and parses it with the
    * JDK's StAX reader, the shape of a workbook pull's work
    */
  private val sheetZ = {
    val r = new java.util.Random(777L)
    val sb = new StringBuilder("<worksheet><sheetData>")
    var row = 1
    while (sb.length < (4 << 20)) {
      sb.append(s"""<row r="$row">""")
      (0 until 8).foreach { c =>
        sb.append(s"""<c r="${('A' + c).toChar}$row" t="inlineStr"><is><t xml:space="preserve">""")
        sb.append(java.lang.Long.toString(r.nextLong() & 0xffffffffL, 36))
        sb.append("</t></is></c>")
      }
      sb.append("</row>")
      row += 1
    }
    sb.append("</sheetData></worksheet>")
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(bos)
    z.write(sb.toString.getBytes(StandardCharsets.UTF_8)); z.close()
    bos.toByteArray
  }

  /** seconds for one inflate + StAX parse of the synthetic worksheet */
  def xmlKernelS(): Double = {
    val t0 = System.nanoTime()
    val in = new java.util.zip.InflaterInputStream(new java.io.ByteArrayInputStream(sheetZ))
    val xr = javax.xml.stream.XMLInputFactory.newInstance().createXMLStreamReader(in)
    val cells = new java.util.ArrayList[String]()
    while (xr.hasNext) {
      if (xr.next() == javax.xml.stream.XMLStreamConstants.CHARACTERS) cells.add(xr.getText)
    }
    xr.close()
    val dt = (System.nanoTime() - t0) / 1e9
    require(cells.size > 0, "xml kernel")
    dt
  }

  /** median of `reps` XML kernel passes */
  def xmlKernelMedianS(reps: Int = 9): Double = Stats.median((1 to reps).map(_ => xmlKernelS()))

  /** total steal ticks from /proc/stat, or -1 where it is unreadable */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }
}

/** Order-insensitive digest of a result set, computed the same way by
  * `make_oracle.py` over DuckDB's answer: columns sorted by name, each
  * cell rendered canonically (doubles by their IEEE bits, -0.0 as 0.0),
  * one MD5 per row, the sorted row digests hashed together.
  */
object ResultDigest {
  private def hex(b: Array[Byte]): String = java.util.HexFormat.of().formatHex(b)

  def cell(v: Any): String = v match {
    case null => "N"
    case d: Double =>
      val x = if (d == 0.0) 0.0 else d
      "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x))
    case f: Float => cell(f.toDouble)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => "i" + n.toString
    case b: Boolean => "b" + b.toString
    case s: String => "s" + s
    case other => "o" + other.toString
  }

  def of(columns: Seq[String], rows: Iterator[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    val digests = rows.map { r =>
      md.reset()
      hex(md.digest(order.map(i => cell(r.get(i))).mkString("\u001f")
        .getBytes(StandardCharsets.UTF_8)))
    }.toArray
    java.util.Arrays.sort(digests.asInstanceOf[Array[Object]])
    md.reset()
    (digests.length.toLong,
      hex(md.digest(digests.mkString("\n").getBytes(StandardCharsets.UTF_8))))
  }
}

/** Minimal JSON writer. No number passes through the default locale, so
  * the output is valid JSON whatever locale the JVM runs under.
  */
object Json {
  /** full precision; `Double.toString` is locale-independent and its
    * `1.0E-4` form is valid JSON
    */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
