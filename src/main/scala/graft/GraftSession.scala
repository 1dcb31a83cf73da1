package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's Spark session config lives. Bench, Verify, the
  * rehearsal and serve mains, the `Inspect` tool and the test suite all
  * build their session here, so every receipt measures the configuration
  * the bench runs. Deliberate runtime overrides stay explicit
  * `spark.conf.set` calls at their call site. Idempotent like
  * `getOrCreate`: a second call returns the running session.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else the caller's own default. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // probed-partition serving (px62/px63/px64): with the default
      // reuseBroadcastOnly=true the planner degrades the cells scan's
      // dynamicpruning filters to literal TRUE when it cannot reuse the
      // probe-side broadcast (measured: 484/484 files read at batch=1);
      // standalone DPP subqueries re-run only the tiny probes plan and
      // cut the scan to the probed cells (measured: 8/484 files)
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "false")
      // top-k serving (r18): per-query ranking is a bounded
      // TypedImperativeAggregate (ObjectHashAggregateExec). The default
      // 128-distinct-keys sort-fallback is calibrated for unbounded
      // sketch buffers; TopKEntries buffers are ≤ k·33 B, so hash-agg a
      // ≤ 1M-query batch per task (≤ ~400 MB at serving k ≤ 10) before
      // falling back. Scale-independent: bounds memory by BATCH size,
      // not corpus size.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
