package lakebench

/** Per-layer metrics of a traced run, over the statements of the per-layer
  * window. Every `*_per_stmt` figure is a window total divided by the
  * window's statement count. A layer that does no work on a workload
  * reports 0 (no xlsx calls on `query_headline`, no Face A builder on the
  * lake workloads).
  */
object Layers {
  def metrics(window: Seq[Main.Rec], remote: Option[TracingRemote], spark: SparkTrace,
      cores: Int): Seq[(String, Double, String)] = {
    val n = window.size.toDouble
    val ids = window.map(_.idx).toSet
    val all = remote.map(_.calls.toSeq).getOrElse(Nil)
    val calls = all.filter(c => ids.contains(c.stmt))
    def of(op: String) = calls.filter(_.op == op)
    def per(x: Double) = x / n
    val reads = of("read_all")
    val writes = of("write")
    val probes = of("read_sheet")

    // a pull is unchanged when its workbook identity equals the previous
    // pull's (the previous one may precede the window)
    val pulls = all.filter(_.op == "read_all")
    val unchanged = pulls.sliding(2).count {
      case Seq(p, c) => ids.contains(c.stmt) && p.crc == c.crc
      case _ => false
    }
    val usefulProbes = probes.count(p => writes.exists(_.stmt == p.stmt))

    val js = window.map(r => (spark.get(r.idx, "build"), spark.get(r.idx, "materialize")))
    def sumJ(f: JobStats => Double) = js.map { case (b, m) => f(b) + f(m) }.sum
    val jobWallS = sumJ(_.jobWallMs / 1e3)
    val taskS = sumJ(_.taskRunMs / 1e3)
    val buildJobWallS = js.map(_._1.jobWallMs / 1e3).sum
    val lake = remote.isDefined
    val buildS = window.map(_.buildS).sum
    val matS = window.map(_.materializeS).sum

    Seq(
      ("xlsx.read_all.calls_per_stmt", per(reads.size), "count"),
      ("xlsx.read_all.s_per_stmt", per(reads.map(_.seconds).sum), "s"),
      ("xlsx.read_all.bytes_per_stmt", per(reads.map(_.xmlBytes).sum.toDouble), "B"),
      ("xlsx.read_sheet.calls_per_stmt", per(probes.size), "count"),
      ("xlsx.read_sheet.s_per_stmt", per(probes.map(_.seconds).sum), "s"),
      ("xlsx.write.calls_per_stmt", per(writes.size), "count"),
      ("xlsx.write.s_per_stmt", per(writes.map(_.seconds).sum), "s"),
      ("xlsx.write.bytes_per_stmt", per(writes.map(_.xmlBytes).sum.toDouble), "B"),
      ("xlsx.sheets_dirty_per_stmt", per(writes.map(_.dirtySheets).sum), "count"),
      ("xlsx.exists.calls_per_stmt", per(of("exists").size), "count"),
      ("xlsx.pull_unchanged_ratio", if (reads.isEmpty) 0.0 else unchanged.toDouble / reads.size, "ratio"),
      ("xlsx.cas_probe_useful_ratio", if (probes.isEmpty) 0.0 else usefulProbes.toDouble / probes.size, "ratio"),
      ("api.sql.s_per_stmt", if (lake) per(buildS) else 0.0, "s"),
      ("api.sql.self_s_per_stmt",
        if (lake) per(buildS - calls.map(_.seconds).sum - buildJobWallS) else 0.0, "s"),
      ("spark.jobs_per_stmt", per(sumJ(_.jobs)), "count"),
      ("spark.jobs_in_build_per_stmt", per(js.map(_._1.jobs).sum), "count"),
      ("spark.stages_per_stmt", per(sumJ(_.stages)), "count"),
      ("spark.tasks_per_stmt", per(sumJ(_.tasks)), "count"),
      ("spark.plan_s_per_stmt", per(window.map(_.planS).sum), "s"),
      ("spark.exec_s_per_stmt", per(jobWallS), "s"),
      ("spark.task_run_s_per_stmt", per(taskS), "s"),
      ("spark.busy_ratio", if (jobWallS > 0) taskS / (jobWallS * cores) else 0.0, "ratio"),
      ("spark.shuffle_write_bytes_per_stmt", per(sumJ(_.shuffleWriteBytes)), "B"),
      ("spark.input_bytes_per_stmt", per(sumJ(_.inputBytes)), "B"),
      ("ops.build_s_per_stmt", if (lake) 0.0 else per(buildS), "s"),
      ("ops.materialize_s_per_stmt", if (lake) 0.0 else per(matS), "s"),
      ("jvm.gc_s_per_stmt", per(window.map(_.gcS).sum), "s"),
      ("jvm.alloc_mb_per_stmt", per(window.map(_.allocBytes).sum / (1024.0 * 1024.0)), "MB"))
  }
}
