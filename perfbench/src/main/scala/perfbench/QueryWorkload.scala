package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `olap_curation`: one client runs the olap and curation slices of the
  * declared queries in a closed loop through the `noop` sink, in a seeded
  * order per pass.
  *
  * Set-up builds the persisted ANN indexes, runs every query once,
  * untimed, and checks its result against the pinned row count and hash;
  * a mismatch or an exception is a wrong op. The timed phase then runs
  * whole passes until `seconds` have gone.
  */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, report: Report,
    data: String, pinsFile: String, seed: Long, seconds: Double) {
  import QueryWorkload._

  def run(): Unit = {
    val names = Queries
    val fns = graft.SparkEntry.queries
    val pins = readPins(pinsFile)
    // the persisted ANN indexes are built fresh in this JVM's temp dir, so
    // their build is paid here, in set-up, on every run
    val t0 = System.nanoTime()
    val indexDir = graft.PerfbenchAccess.sharedIndexDir(spark, data)
    val t1 = System.nanoTime()
    graft.PerfbenchAccess.removalIndexDir(spark, data)
    val (buildS, removeS) = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    Main.log("persisted ANN indexes built")
    // a query that throws here was never checked, so it counts as wrong
    names.foreach { n =>
      report.timed(s"check:$n", traced = false)(Try(Pins.of(fns(n)(spark, data)))) {
        case Failure(e) => Some(s"$n threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        case Success(got) => pins.get(n) match {
          case Some(p) if p == got => None
          case Some(p) => Some(s"$n rows=${got.rows} hash=${got.hash}, pinned rows=${p.rows} hash=${p.hash}")
          case None => Some(s"$n has no pin")
        }
      }
    }
    Main.log("checked pass done")
    report.setupOps.addAll(report.ops) // the check pass is set-up, not a timed sample
    report.ops.clear()
    val setupS = Main.sinceEntry()

    val rnd = new scala.util.Random(seed)
    val passes = ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      rnd.shuffle(names).foreach { n =>
        // a traced run records every other query, alternating by pass, so
        // each query has traced and untraced samples in equally warm
        // passes: their ratio is the tracing overhead
        val traced = tracer.enabled && (passes.size + names.indexOf(n)) % 2 == 1
        tracer.setOn(traced)
        report.timed(n, traced)(tracer.span(n)(sink(fns(n)(spark, data))))(_ => None)
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    tracer.setOn(false)
    val wallS = (System.nanoTime() - start) / 1e9
    val heap = Main.heapMb()

    val timed = report.opList.filter(o => o.ok && !o.traced)
    val lat = timed.map(_.seconds)
    report.putCommon(setupS, heap)
    report.e2e("pass_s") = (Stats.median(passes.toSeq), "s", passes.size.toLong)
    report.putLatency("query", lat)
    // the geometric mean of each query's median: the overall median sits on
    // the samples of the one or two queries in the middle, while this
    // weighs every query alike and so moves less from run to run
    val perQuery = timed.groupBy(_.name).values.map(os => math.log(Stats.median(os.map(_.seconds))))
    report.e2e("latency_ms") = (math.exp(perQuery.sum / perQuery.size) * 1e3, "ms", lat.size.toLong)
    val done = report.opList.count(_.ok)
    report.e2e("ops_per_s") = (done / wallS, "1/s", done.toLong)

    if (tracer.enabled) {
      def sumOf(sel: String => Boolean): (Double, Long) = {
        val ms = names.filter(sel).map(n => Layers.medianOf(report, n))
        (ms.map(_._1).sum, ms.map(_._2).sum)
      }
      def put(metric: String, sel: String => Boolean): Unit = {
        val (v, k) = sumOf(sel); report.layer(metric, v, "s", k)
      }
      put("queries.pass_s", n => n.startsWith("r"))
      put("graph.pass_s", n => n.startsWith("g") && !n.startsWith("ga"))
      put("analytics.pass_s", _.startsWith("ga"))
      tracer.drain()
      val spans = tracer.spans.toArray(Array.empty[Span]).toSeq
      val perQuery = names.filter(_.startsWith("ga")).map { n =>
        val ids = spans.filter(_.name == n).map(_.id)
        if (ids.isEmpty) 0.0 else tracer.jobsOfSpans(ids.toSet).size.toDouble / ids.size
      }
      report.layer("analytics.jobs", perQuery.sum, "count", perQuery.size)
      Seq("dedup", "text", "vector", "multimodal").foreach { g =>
        put(s"pipeline.${g}_s", n => PipelineGroup.get(n).contains(g))
      }
      report.layer("ann.build_s", buildS, "s", 1)
      report.layer("ann.remove_s", removeS, "s", 1)
      AnnServe.foreach { case (q, m) => put(m, _ == q) }
      val serveSpans = spans.filter(sp => AnnServe.exists(_._1 == sp.name)).map(_.id).toSet
      report.layer("ann.jobs_per_serve",
        tracer.jobsOfSpans(serveSpans).size.toDouble / math.max(1, serveSpans.size), "count",
        serveSpans.size)
      report.layer("ann.cell_files",
        graft.pipeline.Similarity.liveCellFileCount(spark, indexDir).toDouble, "count", 1)
      Layers.finish(tracer, report)
    }
  }

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object QueryWorkload {
  /** The olap slice, a fixed part of the r/g/gq/ga families: relational
    * operators, graph traversals and the PageRank driver loop. (The full
    * 45-query pass takes ~22 s warm and ~50 s cold on four cores, more
    * than one run can hold.) */
  val Olap: Seq[String] = Seq(
    "r2_hash_agg", "r7_window_rank", "r10_multiway_join_agg", "r24_sessions",
    "g3_three_hop", "gq2_graph_asia_customers", "ga3_pagerank")

  /** The curation slice, a fixed part of the pipeline operators — dedup,
    * text, multimodal — plus serve paths of the persisted ANN index (px62
    * float, px63 int8, px68 after a remove). */
  val Curation: Seq[String] = Seq(
    "px2_dedup_ngram", "px4_dedup_simhash", "px7_text_langid", "px22_multimodal_decode",
    "px62_sim_twolevel_persist", "px63_sim_pq_serve", "px68_sim_index_remove")

  /** The pipeline operator each curation query spends its time in, by the
    * source file that implements it. */
  val PipelineGroup: Map[String, String] = Map(
    "px2_dedup_ngram" -> "dedup", "px4_dedup_simhash" -> "dedup",
    "px7_text_langid" -> "text",
    "px22_multimodal_decode" -> "multimodal",
    "px62_sim_twolevel_persist" -> "vector", "px63_sim_pq_serve" -> "vector",
    "px68_sim_index_remove" -> "vector")

  /** The ann.* serve metric each persisted-index query stands for. */
  val AnnServe: Seq[(String, String)] = Seq(
    "px62_sim_twolevel_persist" -> "ann.serve_float_s", "px63_sim_pq_serve" -> "ann.serve_int8_s",
    "px68_sim_index_remove" -> "ann.serve_removed_s")

  val Queries: Seq[String] = Olap ++ Curation

  def readPins(file: String): Map[String, Pins.Pin] =
    scala.io.Source.fromFile(file).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, h) = l.split("\\s+"); n -> Pins.Pin(r.toLong, h) }.toMap

  /** Prints one pin line per query, taken from a live run and checked
    * against the same query's result that graft.Verify wrote (and the
    * DuckDB oracle passed) on the same data. */
  def pin(spark: SparkSession, data: String, verifyOut: String): Unit =
    Queries.foreach { n =>
      val live = Pins.of(graft.SparkEntry.queries(n)(spark, data))
      val verified = Pins.of(spark.read.parquet(s"$verifyOut/$n"))
      if (live == verified) println(s"$n ${live.rows} ${live.hash}")
      else System.err.println(s"[pin] $n live=$live verify=$verified MISMATCH")
    }
}
