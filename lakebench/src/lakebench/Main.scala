package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.LakebenchBus
import org.apache.spark.sql.SparkSession

/** Face B / Face A latency benchmark.
  *
  * {{{
  * lakebench.Main --workload <lake_read_10k|lake_write_10k|query_headline>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--sf-dir <dir>] [--oracle <file>]
  * }}}
  *
  * One process, one client thread, closed loop: a statement is issued only
  * after the previous one returned and its result was materialised. The
  * last stdout line is the result JSON; the full record goes to `--out`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, sfDir: String, oracle: Option[Path], cores: Int)

  /** the inputs are opened this many times and the median reported */
  val SetupRepeats = 3

  /** The tail reported as `latency.stmt_tail_s`. At the fixed run length
    * a run times 8 to 10 statements, so no percentile has ten samples
    * beyond it; the upper quartile is the highest one that has two.
    */
  val TailPct = 75.0

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      m.getOrElse("sf-dir", ""), m.get("oracle").map(Paths.get(_)),
      math.min(4, Runtime.getRuntime.availableProcessors))
  }

  /** one timed statement's record */
  final case class Rec(idx: Int, round: Int, label: String, buildS: Double,
      materializeS: Double, checkS: Double, ok: Boolean, error: Option[String],
      allocBytes: Long, procAllocBytes: Long, gcS: Double, planS: Double) {
    def latencyS: Double = buildS + materializeS
  }

  def main(argv: Array[String]): Unit = {
    val entry = System.nanoTime()
    val a = parse(argv)
    val host0 = (HostWitness.xmlKernelMedianS(), HostWitness.stealTicks(), Stats.gcSeconds())

    val t0 = System.nanoTime()
    Files.createDirectories(a.work)
    val builder = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    graft.GraftSession.defaults(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sparkTrace = new SparkTrace
    val planTrace = new PlanTrace
    if (a.trace) {
      sc.addSparkListener(sparkTrace)
      spark.listenerManager.register(planTrace)
    }
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = a.workload match {
      case "lake_read_10k" => new LakeRead(spark, a.seed, a.trace)
      case "lake_write_10k" => new LakeWrite(spark, a.seed, a.trace)
      case "query_headline" => new QueryHeadline(spark, a.seed, a.sfDir, Oracle.load(a.oracle.get, a.sfDir))
      case w => sys.error(s"unknown workload $w")
    }

    // set-up: the inputs are generated from the seed, then opened (the
    // lake constructed, which pulls the workbook; for query_headline the
    // tables registered and the queries built) SetupRepeats times, keeping
    // the last; then the warm-up rounds
    sc.setLocalProperty(sparkTrace.StmtKey, "-1")
    val gen0 = System.nanoTime()
    wl.generate(a.work.resolve("input"))
    val generateS = (System.nanoTime() - gen0) / 1e9
    val openS = (1 to SetupRepeats).map { _ =>
      val o0 = System.nanoTime()
      wl.open()
      (System.nanoTime() - o0) / 1e9
    }
    val w0 = System.nanoTime()
    (1 to wl.warmUpRounds).foreach(_ => wl.round().foreach(s => s.materialize(s.build())))
    val warmUpS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + generateS + Stats.median(openS) + warmUpS
    val firstStmtAt = (System.nanoTime() - entry) / 1e9
    if (a.trace) { LakebenchBus.drain(sc); planTrace.take() }

    // the timed loop: whole rounds until --seconds have elapsed, and never
    // fewer than the per-layer window, so every statement kind is timed
    // equally often
    val recs = mutable.ArrayBuffer.empty[Rec]
    val texts = mutable.ArrayBuffer.empty[String]
    val refs = mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    val deadline = loop0 + a.seconds * 1000000000L
    var round = 1
    while (round <= wl.windowRounds || System.nanoTime() < deadline) {
      wl.round().foreach { s =>
        val idx = recs.size
        texts += s.text
        wl.remote.foreach(_.stmt = idx)
        sc.setLocalProperty(sparkTrace.StmtKey, idx.toString)
        sc.setLocalProperty(sparkTrace.PhaseKey, "build")
        val g0 = Stats.gcSeconds(); val a0 = Stats.allocatedBytes()
        val pa0 = Stats.processAllocatedBytes()
        val s0 = System.nanoTime()
        var t1 = s0
        val res = scala.util.Try {
          val df = s.build()
          t1 = System.nanoTime()
          sc.setLocalProperty(sparkTrace.PhaseKey, "materialize")
          (df, s.materialize(df))
        }
        val t2 = System.nanoTime()
        val a1 = Stats.allocatedBytes(); val g1 = Stats.gcSeconds()
        val pa1 = Stats.processAllocatedBytes()
        wl.remote.foreach(_.stmt = -1)
        val planS = if (a.trace) { LakebenchBus.drain(sc); planTrace.take() } else 0.0
        sc.setLocalProperty(sparkTrace.PhaseKey, "check")
        val c0 = System.nanoTime()
        val err = res.toEither.left.map(e => s"${s.label}: ${e.getClass.getName}: ${e.getMessage}")
          .flatMap { case (df, rows) => s.check(df, rows).toLeft(()) }.left.toOption
        if (a.trace) { LakebenchBus.drain(sc); planTrace.take() }
        val checkS = (System.nanoTime() - c0) / 1e9
        refs += HostWitness.xmlKernelS() // host-speed witness beside each timing
        recs += Rec(idx, round, s.label, (t1 - s0) / 1e9, (t2 - t1) / 1e9, checkS, err.isEmpty, err,
          a1 - a0, pa1 - pa0, g1 - g0, planS)
      }
      round += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    sc.setLocalProperty(sparkTrace.StmtKey, "-1")
    sc.setLocalProperty(sparkTrace.PhaseKey, "check")
    val runErrors = try wl.finish() catch { case e: Exception => Seq(s"final check: $e") }
    // a failed end-of-run check counts as one more failure
    val failed = recs.count(!_.ok) + runErrors.size
    val errors = runErrors ++ recs.flatMap(_.error)
    if (a.trace) LakebenchBus.drain(sc)

    val heapMb = Stats.liveHeapMb()
    val stored = wl.storedBytes
    val probes = if (a.trace) wl.layerProbes(texts.toSeq) else Map.empty[String, Double]
    val host1 = (HostWitness.xmlKernelMedianS(), HostWitness.stealTicks(), Stats.gcSeconds())

    // figures over the correct statements (over all of them if none was)
    val ok = Some(recs.filter(_.ok)).filter(_.nonEmpty).getOrElse(recs).toSeq
    val lat = ok.map(_.latencyS)
    val mib = 1024.0 * 1024.0
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("alloc_mb_per_stmt", ok.map(_.procAllocBytes).sum / mib / ok.size, "MB"),
      ("heap_live_mb", heapMb, "MB"),
      ("stored_mb", stored / mib, "MB"))
    val latency: Seq[(String, Double, String)] = Seq(
      ("latency.stmt_p50_s", Stats.median(lat), "s"),
      ("latency.stmt_tail_s", Stats.percentile(lat, TailPct), "s"),
      ("latency.stmts_per_s", ok.size / lat.sum, "1/s"))
    val layers: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else Layers.metrics(recs.toSeq.filter(_.round <= wl.windowRounds), wl.remote,
        sparkTrace, a.cores) ++ probes.toSeq.map { case (k, v) => (k, v, "s") } ++ latency
    val shown = if (a.trace) layers else e2e

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores,
      "correct" -> errors.isEmpty, "attempted" -> recs.size, "failed" -> failed,
      "stmt_fail_ratio" -> failed.toDouble / math.max(1, recs.size),
      "errors" -> errors.take(20).toSeq,
      "metrics" -> mutable.LinkedHashMap((e2e ++ latency ++ layers).distinct.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }: _*),
      "tail_percentile" -> TailPct, "samples" -> lat.size, "loop_wall_s" -> loopS,
      "entry_to_record_s" -> (System.nanoTime() - entry) / 1e9,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> generateS, "open_s" -> openS,
        "warm_up_s" -> warmUpS,
        "entry_to_first_stmt_s" -> firstStmtAt),
      "inputs" -> wl.sizes,
      "host" -> Map(
        "xml_kernel_before_s" -> host0._1, "xml_kernel_after_s" -> host1._1,
        "steal_ticks" -> (if (host0._2 < 0 || host1._2 < 0) -1L else host1._2 - host0._2),
        "gc_s" -> (host1._3 - host0._3),
        "xml_kernel_p50_s" -> Stats.median(refs.toSeq)),
      "by_label" -> ok.groupBy(_.label).map { case (l, rs) =>
        l -> Map("n" -> rs.size, "p50_s" -> Stats.median(rs.map(_.latencyS))) },
      "statements" -> recs.map(r => Map("label" -> r.label, "round" -> r.round,
        "build_s" -> r.buildS, "materialize_s" -> r.materializeS, "check_s" -> r.checkS,
        "xml_kernel_s" -> refs(r.idx), "alloc_bytes" -> r.allocBytes,
        "proc_alloc_bytes" -> r.procAllocBytes,
        "ok" -> r.ok)))
    Files.createDirectories(a.out.toAbsolutePath.getParent)
    Files.write(a.out, Json.render(record).getBytes("UTF-8"))

    spark.stop()
    println(Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> errors.isEmpty, "attempted" -> recs.size, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(shown.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
  }
}
