package perfbench

/** Per-layer metrics every workload reports in its traced run: the Spark
  * runtime's counters, the driver's share, the parquet scan and the
  * tracing overhead. Layers a workload does not load report 0, the value
  * they should keep.
  */
object Layers {
  /** Names every workload must report; a workload sets the ones it loads. */
  val WorkloadSpecific: Seq[(String, String)] = Seq(
    "queries.pass_s" -> "s", "graph.pass_s" -> "s",
    "analytics.pass_s" -> "s", "analytics.jobs" -> "count",
    "pipeline.dedup_s" -> "s", "pipeline.text_s" -> "s", "pipeline.vector_s" -> "s",
    "pipeline.multimodal_s" -> "s",
    "ann.build_s" -> "s", "ann.remove_s" -> "s", "ann.serve_float_s" -> "s",
    "ann.serve_int8_s" -> "s", "ann.serve_removed_s" -> "s",
    "ann.jobs_per_serve" -> "count", "ann.cell_files" -> "count",
    "store.wal_batches_per_txn" -> "count", "store.wal_bytes_per_txn" -> "bytes",
    "store.close_s" -> "s", "wire.jobs_per_write" -> "count",
    "wire.getvalues_s" -> "s", "wire.targets_s" -> "s", "wire.jobs_per_read" -> "count",
    "replica.catchup_s" -> "s", "replica.lag_batches" -> "count")

  /** Fills the Spark, driver, scan and overhead metrics from the tracer,
    * then sets every workload-specific metric the workload left unset
    * to 0. Spark counters are per timed op over the tracing-on periods,
    * so call it when the timed phase ends, before any untimed probe; a
    * metric the workload sets after it replaces its 0. */
  def finish(tracer: Tracer, report: Report): Unit = {
    tracer.setOn(false)
    tracer.drain()
    val ops = report.opList
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val jobs = tracer.jobsInOnPeriods
    val stages = tracer.stagesOf(jobs)
    def sumL(f: StageRec => Long): Double = stages.map(f).sum.toDouble
    val mb = 1048576.0
    report.layer("spark.jobs", jobs.size / n, "count", traced.size)
    report.layer("spark.stages", stages.size / n, "count", traced.size)
    report.layer("spark.tasks", sumL(_.tasks) / n, "count", traced.size)
    report.layer("spark.task_s", sumL(_.runMs) / 1e3 / n, "s", traced.size)
    report.layer("spark.task_cpu_s", sumL(_.cpuNs) / 1e9 / n, "s", traced.size)
    report.layer("spark.task_gc_s", sumL(_.gcMs) / 1e3 / n, "s", traced.size)
    report.layer("spark.sched_delay_s", sumL(_.schedMs) / 1e3 / n, "s", traced.size)
    report.layer("spark.shuffle_write_mb", sumL(_.shuffleWrite) / mb / n, "MB", traced.size)
    report.layer("spark.shuffle_read_mb", sumL(_.shuffleRead) / mb / n, "MB", traced.size)
    report.layer("spark.spill_mb", sumL(_.spill) / mb / n, "MB", traced.size)
    val skews = stages.filter(_.durations.size >= 2).map { s =>
      val m = Stats.median(s.durations.map(_.toDouble).toSeq)
      if (m > 0) s.durations.max / m else 1.0
    }
    report.layer("spark.skew", if (skews.isEmpty) 1.0 else skews.max, "ratio", stages.size)
    val periods = tracer.onPeriods.toSeq
    val onMs = periods.map { case (a, b) => (b - a) / 1e6 }.sum
    val coveredMs = periods.map { case (a, b) =>
      tracer.coveredMs(jobs, tracer.nanosToMs(a), tracer.nanosToMs(b)).toDouble }.sum
    report.layer("spark.busy_frac", if (onMs > 0) coveredMs / onMs else 0.0, "frac", periods.size)
    report.layer("driver.gap_s", (onMs - coveredMs) / 1e3 / n, "s", traced.size)
    report.layer("jvm.peak_rss_mb", Main.peakRssMb(), "MB", 1)
    report.layer("tables.input_mb", sumL(_.inputBytes) / mb / n, "MB", traced.size)
    report.layer("tables.input_rows", sumL(_.inputRows) / n, "count", traced.size)
    WorkloadSpecific.foreach { case (k, u) =>
      if (!report.layers.contains(k)) report.layer(k, 0.0, u, 0) }
    // overhead: per op kind, traced median over untraced median, then the
    // median over kinds
    val ratios = ops.filter(_.ok).groupBy(_.name).values.flatMap { xs =>
      val (t, u) = xs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)) - 1.0)
    }.toSeq
    report.layer("trace.overhead_frac", if (ratios.isEmpty) 0.0 else Stats.median(ratios),
      "frac", ratios.size)
  }

  /** Median seconds of the traced ok ops named `name`. */
  def medianOf(report: Report, name: String): (Double, Long) = {
    val xs = report.opList.filter(o => o.traced && o.ok && o.name == name).map(_.seconds)
    (if (xs.isEmpty) 0.0 else Stats.median(xs), xs.size.toLong)
  }
}
