package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.Tables

/** Tools-only (NOT a query path): the VERDICT r19 item-3 skew probe for
  * the window-df spellings of boilerplate / segment_dedup.
  *
  * Plants a viral key (one gram/segment present in EVERY doc — the
  * corpus shape boilerplate detection exists for) at a parameterized doc
  * count and measures, for the r19 window spelling vs the r20 two-level
  * + survivors-join spelling:
  *   - max_partition_rows: rows landing in the hottest window partition
  *     (= the viral key's df — the row set ONE WindowExec task must
  *     buffer, since windows are excluded from AQE skew splitting);
  *   - max_task_shuffle_records: the largest single-task shuffle read
  *     observed (the straggler witness);
  *   - wall seconds of each spelling (noop sink).
  *
  * Usage: sbt "runMain graft.tools.SkewProbe [nDocs] [sf]"   (default 200000)
  */
object SkewProbe {
  private final class TaskMax extends org.apache.spark.scheduler.SparkListener {
    val maxRecords = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val r = m.shuffleReadMetrics.recordsRead
        var cur = maxRecords.get
        while (r > cur && !maxRecords.compareAndSet(cur, r)) cur = maxRecords.get
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // planted corpus: every doc carries viral gram 0 plus 5 unique grams
    val grams = spark.range(nDocs.toLong).select(col("id").as("doc_id"))
      .select(col("doc_id"), explode(array(
        lit(0L),
        col("doc_id") * 5 + 1, col("doc_id") * 5 + 2, col("doc_id") * 5 + 3,
        col("doc_id") * 5 + 4, col("doc_id") * 5 + 5)).as("g"))
      .repartition(16) // several map tasks so partial aggregation is visible
    val thr = 2

    def windowSpelling(g: DataFrame): DataFrame = g
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > thr, 1L).otherwise(0L)).as("n_common"))
    def twoLevelSpelling(g: DataFrame): DataFrame = {
      val common = g.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") > thr).select(col("g"), lit(1L).as("hit"))
      g.join(common, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_common"))
    }

    val maxDf = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .agg(max("df")).head().getLong(0)

    def timed(tag: String, df: => DataFrame): (Double, Long) = {
      val l = new TaskMax
      spark.sparkContext.addSparkListener(l)
      spark.sparkContext.setJobDescription(s"skewprobe: $tag")
      df.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftshim.ListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      (dt, l.maxRecords.get)
    }

    val (wWall, wMax) = timed("window-df", windowSpelling(grams))
    val (tWall, tMax) = timed("two-level-df", twoLevelSpelling(grams))
    // sanity: identical verdicts
    val diff = windowSpelling(grams).exceptAll(twoLevelSpelling(grams)).count() +
      twoLevelSpelling(grams).exceptAll(windowSpelling(grams)).count()

    println(s"""{"probe":"skew_window_df","n_docs":$nDocs,"viral_df":$maxDf,""" +
      s""""window_wall_sec":${f"$wWall%.3f"},"window_max_task_shuffle_records":$wMax,""" +
      s""""twolevel_wall_sec":${f"$tWall%.3f"},"twolevel_max_task_shuffle_records":$tMax,""" +
      s""""verdict_diff_rows":$diff}""")

    // ---- optional paired A/B on the REAL sf corpus (matched floor: both
    // spellings in the same session, interleaved) — `sf` as second arg
    if (args.length > 1 && args(1) == "sf") {
      val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val docs = Tables.t(spark, d, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("nt"))
        .filter(size(split(col("nt"), " ")) >= 5)
      val g = docs.select(col("doc_id"),
        explode(graft.functions.TextSketch.hashedWordShinglesCol(
          col("nt"), 5, xx = false)).as("g"))
      def med3(tag: String, df: => DataFrame): Double = {
        val ts = Seq.fill(3)(timed(tag, df)._1); ts.sorted.apply(1)
      }
      val bw = med3("bp-window-sf", windowSpelling(g))
      val bt = med3("bp-twolevel-sf", twoLevelSpelling(g))
      // third variant: share ONE gram explode between the df build and
      // the probe side via persist (the minhashPairs convention), then
      // release
      val bp = med3("bp-twolevel-persist-sf", {
        val gp = g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = twoLevelSpelling(gp).localCheckpoint(true)
        gp.unpersist()
        out
      })
      val bDiff = windowSpelling(g).exceptAll(twoLevelSpelling(g)).count() +
        twoLevelSpelling(g).exceptAll(windowSpelling(g)).count()
      println(s"""{"probe":"sf_paired_boilerplate_df","sf":"$d","window_median3_sec":${f"$bw%.3f"},"twolevel_median3_sec":${f"$bt%.3f"},"twolevel_persist_median3_sec":${f"$bp%.3f"},"verdict_diff_rows":$bDiff}""")
    }
    spark.stop()
  }
}
