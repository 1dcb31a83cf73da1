package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: runs one workload for a fixed time and prints one
  * JSON line with what it measured. `perfbench/run.py` builds this,
  * generates the inputs, and turns the line into the benchmark's result.
  *
  * {{{
  *   perfbench.Main --workload olap_curation|graph_serve --seed N
  *                  --seconds S --trace 0|1 --data DIR --work DIR
  *                  [--pins FILE] [--pin-from VERIFY_OUT_DIR]
  * }}}
  */
object Main {
  /** Entry time, for `setup_s`: JVM entry to the first timed op. */
  val entryNs: Long = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val data = opts("data")
    val work = opts("work")
    Files.createDirectories(Paths.get(work))

    val spark = session(work)
    log("session up")
    val tracer = new Tracer(spark.sparkContext, trace)
    val report = new Report(workload)
    try {
      workload match {
        case "olap_curation" =>
          opts.get("pin-from") match {
            case Some(verifyOut) => QueryWorkload.pin(spark, data, verifyOut)
            case None => new QueryWorkload(spark, tracer, report, data, opts("pins"), seed, seconds).run()
          }
        case "graph_serve" => new GraphServeWorkload(spark, tracer, report, work, seed, seconds).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // next to the run dir, which run.py deletes
      if (trace) tracer.writeSpans(Paths.get(work).resolveSibling(s"spans-$workload-$seed.jsonl"))
      if (!opts.contains("pin-from")) println(report.json(seed, trace))
    } finally spark.stop()
  }

  /** Session config copied from graft.Bench (AQE, DPP without broadcast
    * reuse, the object-hash fallback threshold, UTC) at a fixed local[4]:
    * four cores, whatever the box reports. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after a full GC, in MB: the least of three GCs a moment
    * apart, so objects that Spark's cleaner releases after the first GC
    * are not counted. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  /** Peak resident set of this process, from /proc (0 where absent). */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)

  /** A progress line on stderr, stamped with seconds since JVM entry. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${sinceEntry()}%7.2f s  $msg")

  def sinceEntry(): Double = (System.nanoTime() - entryNs) / 1e9
}
