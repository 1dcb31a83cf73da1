package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** Inspects declared queries on the canonical session, in one of three
  * modes. Each mode is a function from a session to text:
  *   --plan   the formatted physical plan (static: AQE has not run yet)
  *   --final  runs the query through the `noop` sink, then prints the
  *            final adaptive plan (isFinalPlan=true) and each parquet
  *            scan's partition filters, `numFiles` and `staticFilesNum`
  *            (runtime partition pruning shows as numFiles < staticFilesNum)
  *   --jobs   runs the query `repeat` times and prints each run's wall
  *            seconds, its job seconds grouped by `spark.job.description`
  *            (the phase labels operators set, e.g. `ivf2-build:` on a
  *            cold px62) and its slowest stages
  *
  * Usage: runMain graft.tools.Inspect <query[,query…]> [sfDir]
  *          --plan|--final|--jobs [repeat]
  * sfDir defaults to SPARK_GRAFT_SF_DIR, the core count to SPARK_GRAFT_CPUS
  * (else 32, as graft.Bench), and SPARK_GRAFT_EXTRA_CONF="k=v;k=v" sets
  * ad-hoc session overrides for A/B runs.
  */
object Inspect extends AdaptiveSparkPlanHelper {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def plan(spark: SparkSession, name: String, sf: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)

  def finalPlan(spark: SparkSession, name: String, sf: String): String = {
    // the write runs its own QueryExecution, not the DataFrame's: catch it
    // (the last action to finish) to print the plan that actually ran
    val last = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = last.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      noop(SparkEntry.queries(name)(spark, sf))
      GraftShim.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val executed = last.get.executedPlan
    val scans = collect(executed) { case s: FileSourceScanExec =>
      def metric(k: String) = s.metrics.get(k).fold("-")(_.value.toString)
      s"scan ${s.relation.location.rootPaths.mkString(",")}: " +
        s"numFiles=${metric("numFiles")} staticFilesNum=${metric("staticFilesNum")}" +
        s" partitionFilters=${s.partitionFilters.mkString("[", ", ", "]")}"
    }
    (executed.toString +: scans).mkString("\n")
  }

  def jobs(spark: SparkSession, name: String, sf: String, repeat: Int): String = {
    val sc = spark.sparkContext
    val started = new ConcurrentHashMap[Int, (String, Long)]()
    val done = new ConcurrentLinkedQueue[(Int, String, Double)]()
    val stages = new ConcurrentLinkedQueue[(Int, Double, Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.put(j.jobId, (Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), j.time))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(started.remove(j.jobId)).foreach { case (d, t0) =>
          done.add((j.jobId, d, (j.time - t0) / 1e3))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val secs = (for (a <- i.completionTime; b <- i.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1d)
        val site = i.details.linesIterator
          .find(l => l.contains("graft.") || l.contains("Dataset"))
          .getOrElse(i.name.takeWhile(_ != '\n')).trim.take(60)
        stages.add((i.stageId, secs, i.numTasks, site))
      }
    }
    sc.addSparkListener(listener)
    try (1 to repeat).map { run =>
      done.clear()
      stages.clear()
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(name)(spark, sf))
      val wall = (System.nanoTime() - t0) / 1e9
      GraftShim.drainListeners(sc)
      val js = done.asScala.toSeq
      val byPhase = js.groupBy(_._2).toSeq.sortBy(-_._2.map(_._3).sum).map {
        case (d, g) =>
          f"  phase ${if (d.isEmpty) "(unlabeled)" else d.take(60)}%-60s " +
            f"${g.map(_._3).sum}%8.3f s  (${g.size} jobs: " +
            g.sortBy(_._1).map(j => f"${j._3}%.2f").mkString(" ") + ")"
      }
      val top = stages.asScala.toSeq.sortBy(-_._2).take(5).map {
        case (id, secs, tasks, site) =>
          f"  stage $id%4d $secs%7.3f s  tasks=$tasks%-4d $site"
      }
      val head = f"JOBS $name run $run: $wall%.3f s, ${js.size} jobs " +
        f"(sum ${js.map(_._3).sum}%.3f s)"
      (head +: (byPhase ++ top)).mkString("\n")
    }.mkString("\n")
    finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Inspect <query[,query…]> [sfDir] --plan|--final|--jobs [repeat]"
    val (positional, flagged) = args.span(!_.startsWith("--"))
    val sf = positional.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
    val mode = flagged.headOption.getOrElse("")
    require(positional.nonEmpty && sf.nonEmpty &&
      Seq("--plan", "--final", "--jobs").contains(mode), usage)
    val repeat = flagged.lift(1).fold(3)(_.toInt)
    val spark = GraftSession.local(GraftSession.cores(32))
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    try positional(0).split(",").foreach { name =>
      println(s"===== $name =====")
      println(mode match {
        case "--plan" => plan(spark, name, sf.get)
        case "--final" => finalPlan(spark, name, sf.get)
        case "--jobs" => jobs(spark, name, sf.get, repeat)
      })
    } finally spark.stop()
  }
}
