package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.{Bench, GraftSession, SparkEntry}

/** Plan dumps: one `explain("formatted")` file per named query, so plan
  * regressions (lost pushdown, missed broadcast, an extra exchange) can be
  * diffed against committed evidence (`plans/`). Names resolve from
  * `SparkEntry.queries` and from the bench-only entries
  * (`q_scale_probe_cpu`, `q_scale_probe_agg`, `q_events_tumbling_batch`).
  *
  * The session is fixed at 4 cores (4 shuffle partitions) on every host,
  * so a dump compares with the committed one whatever machine made it.
  *
  * usage: sbt "runMain graft.tools.PlanAudit <sfDir> <outDir> [query...]"
  */
object PlanAudit {
  private val DefaultNames = Seq(
    "q_scan_filter_pushdown", "q_scan_projection_pushdown",
    "q_agg_groupby", "q_join_inner", "q_join_multiway",
    "q_win_topk_per_group", "q_topk", "q_sort_multikey",
    "q_llm_dedup_near", "q_llm_simsearch_topk", "q_llm_simsearch_ivf",
    "q_llm_fingerprint_winnow", "q_llm_repetition", "q_fn_json")

  private def resolve(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.get(name).orElse(Bench.extraBench.get(name))
      .getOrElse(throw new IllegalArgumentException(s"PlanAudit: unknown query $name"))

  /** Writes `<outDir>/<name>.txt` for each name: a `# name (sfDir)` header
    * line, a blank line, then the formatted plan. Every name is resolved
    * before any file is written. Builds each DataFrame and runs no action
    * of its own (a query that materializes while it is built still does).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Seq[Path] = {
    val queries = names.map(n => n -> resolve(n))
    Files.createDirectories(Paths.get(outDir))
    queries.map { case (name, q) =>
      val plan = q(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"$name.txt"),
        s"# $name ($sfDir)\n\n$plan", UTF_8)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanAudit <sfDir> <outDir> [query...]")
    val names = if (args.length > 2) args.toSeq.drop(2) else DefaultNames
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dump(spark, args(0), args(1), names).foreach(p => println(s"[planaudit] $p"))
    finally spark.stop()
  }
}
