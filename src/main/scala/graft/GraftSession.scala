package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for every main that runs the graft query
  * paths (Verify, Bench, the `graft.tools` mains), so the bench and the
  * oracle/verify sessions exercise the SAME planner configuration
  * (ADVICE r19: the configs had diverged — the cached-plan coalescing
  * conf lived only in the bench session). `Smoke` alone stays a bare
  * session: it reproduces the driver's t1 call, which sets no confs.
  */
object GraftSession {
  /** Library query paths persist shared intermediates (minhashPairs'
    * bucket aggregate). Cached plans are excluded from AQE partition
    * coalescing by default (`canChangeCachedPlanOutputPartitioning =
    * false` protects the output partitioning of persisted WRITE
    * pipelines — irrelevant to these analytics paths), so without this
    * conf the persisted aggregate materializes at the full session
    * partition count and every downstream stage inherits those tasks
    * (measured r19: q_llm_pipeline_e2e 151 tasks without vs 31 with).
    * Scale-neutral: AQE coalesces by ACTUAL sizes wherever it runs.
    */
  val CachedPlanCoalescing =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** The planner confs every graft session carries (VERDICT r19 item 4:
    * promote the conf out of the bench-only session so non-bench
    * sessions plan the same way the bench measured).
    */
  def defaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config(CachedPlanCoalescing, "true")

  /** A local session on `cpus` cores with one shuffle partition per core,
    * UTC session time, no UI, and [[defaults]]. Callers add only the
    * confs that are theirs (Bench: its AQE and scan-split lines).
    */
  def local(cpus: Int): SparkSession.Builder =
    defaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
}
