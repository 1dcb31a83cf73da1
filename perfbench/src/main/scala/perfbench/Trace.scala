package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into graft's public API, recorded by the benchmark from
  * outside: `name` is the op kind (a query name, a serve path, a wire
  * request), `traced` whether the tracing period was on when it started.
  */
final case class Op(name: String, t0: Long, t1: Long, ok: Boolean, traced: Boolean) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** A span: one call into a layer, with its parent span and op id. Times
  * are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    thread: String, t0: Long, t1: Long)

/** Spark's job, stage and task counters for one job, attributed to the
  * span whose id the submitting thread carried (0 when none did, e.g. a
  * job the wire server submits from its own worker thread). */
final class JobRec(val id: Int, val span: Long, val submitMs: Long,
    val stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageRec {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** Records spans and Spark listener counters while `on` is set. A traced
  * run turns recording on and off as it goes, so it measures its own
  * overhead: the same ops timed with and without recording.
  *
  * Everything stays in memory; [[writeSpans]] writes the spans once when
  * the run ends.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  @volatile var on: Boolean = false
  private val nextSpan = new AtomicLong(0L)
  /** The calling thread's open spans, innermost first, as (id, op id). */
  private val current = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  /** Wall intervals (nanoTime) during which tracing was on. */
  val onPeriods = mutable.ArrayBuffer.empty[(Long, Long)]
  private var periodStart = 0L
  private val nanoOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L

  if (enabled) sc.addSparkListener(this)

  def setOn(v: Boolean): Unit = if (enabled) synchronized {
    val now = System.nanoTime()
    if (v && !on) periodStart = now
    if (!v && on) onPeriods += ((periodStart, now))
    on = v
  }

  /** Runs `body` as a span under the calling thread's current span (a
    * top-level span starts a new op); jobs it submits carry the span id
    * through a Spark local property. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || !on) body
    else {
      val id = nextSpan.incrementAndGet()
      val stack = current.get()
      val (parent, op) = stack.headOption.getOrElse((0L, id))
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      current.set((id, op) :: stack)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, op, Thread.currentThread().getName, t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
        current.set(stack)
      }
    }

  private def recording = enabled && on

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new JobRec(e.jobId, sp, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
      s.synchronized {
        val info = e.taskInfo
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        s.durations += info.duration
      }
    }
  }

  /** Blocks until the listener bus has delivered every event posted so
    * far, so the counters below are complete. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchShim.drainListeners(sc)

  def nanosToMs(n: Long): Long = n / 1000000L + nanoOffsetMs

  /** Jobs submitted inside any tracing-on period. */
  def jobsInOnPeriods: Seq[JobRec] = {
    val ps = onPeriods.map { case (a, b) => (nanosToMs(a), nanosToMs(b)) }
    jobs.values.asScala.toSeq.filter(j => ps.exists { case (a, b) =>
      j.submitMs >= a && j.submitMs <= b })
  }

  def jobsOfSpans(ids: Set[Long]): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => ids.contains(j.span))

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))

  def jobsSubmittedIn(t0: Long, t1: Long): Seq[JobRec] = {
    val (a, b) = (nanosToMs(t0), nanosToMs(t1))
    jobs.values.asScala.toSeq.filter(j => j.submitMs >= a && j.submitMs <= b)
  }

  /** Milliseconds of [a, b] (epoch ms) covered by the union of the jobs'
    * submit-to-end intervals. */
  def coveredMs(js: Seq[JobRec], a: Long, b: Long): Long = {
    val iv = js.filter(_.endMs >= 0)
      .map(j => (math.max(a, j.submitMs), math.min(b, j.endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.t0).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""thread":"${s.thread.replace("\"", "'")}","start_ns":${s.t0},"end_ns":${s.t1}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
