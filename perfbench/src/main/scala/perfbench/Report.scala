package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run measured: every op it timed, its failures, and the named
  * metrics the workload derived from them. */
final class Report(val workload: String) {
  val ops = new ConcurrentLinkedQueue[Op]()
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  /** Ops whose output was wrong (a subset of `failed`). */
  val wrong = new AtomicLong(0L)
  val notes = new ConcurrentLinkedQueue[String]()
  /** End-to-end metrics as the workload defines them: name -> (value, unit, samples). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  /** Per-layer metrics from the traced run. */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String, Long)]

  def opList: Seq[Op] = ops.asScala.toSeq

  def fail(what: String, wrongOutput: Boolean): Unit = {
    failed.incrementAndGet()
    if (wrongOutput) wrong.incrementAndGet()
    if (notes.size < 20) notes.add(what)
  }

  /** Times `body` as one op of kind `name`; an exception counts as a
    * failed op. `check` returns an error message for a wrong answer. */
  def timed[T](name: String, traced: Boolean)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    out match {
      case Left(e) =>
        ops.add(Op(name, t0, t1, ok = false, traced))
        fail(s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}",
          wrongOutput = false)
        None
      case Right(v) =>
        val err = check(v)
        err.foreach(m => fail(s"$name wrong: $m", wrongOutput = true))
        ops.add(Op(name, t0, t1, ok = err.isEmpty, traced))
        Some(v)
    }
  }

  /** A p90 needs at least 100 samples (ten beyond it); below that it is
    * omitted and the omission is noted. */
  def putLatency(prefix: String, secs: Seq[Double]): Unit = {
    e2e(s"${prefix}_p50_s") = (Stats.median(secs), "s", secs.size.toLong)
    if (secs.size >= 100) e2e(s"${prefix}_p90_s") = (Stats.quantile(secs, 0.9), "s", secs.size.toLong)
    else notes.add(s"${prefix}_p90_s omitted: ${secs.size} samples < 100")
  }

  def putCommon(setupS: Double, heapMb: Double): Unit = {
    e2e("setup_s") = (setupS, "s", 1L)
    val a = attempted.get()
    e2e("failed_frac") = (if (a == 0) 0.0 else failed.get().toDouble / a, "frac", a)
    e2e("heap_mb") = (heapMb, "MB", 1L)
  }

  def layer(name: String, value: Double, unit: String, n: Long): Unit =
    layers(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit, n)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\r\n\t]", " ") + "\""
  private def obj(m: mutable.LinkedHashMap[String, (Double, String, Long)]): String =
    m.map { case (k, (v, u, n)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)},\"n\":$n}" }
      .mkString("{", ",", "}")

  /** Set-up op times (e.g. the checked first execution of each query). */
  val setupOps = new ConcurrentLinkedQueue[Op]()

  /** Median seconds and sample count per op kind, untraced timed ops. */
  private def perOp(xs: Seq[Op]): String =
    xs.filter(o => o.ok && !o.traced).groupBy(_.name).toSeq.sortBy(_._1).map { case (k, os) =>
      s"${str(k)}:[${num(Stats.median(os.map(_.seconds)))},${os.size}]"
    }.mkString("{", ",", "}")

  def json(seed: Long, trace: Boolean): String =
    s"""{"perfbench":${str(workload)},"seed":$seed,"trace":${if (trace) 1 else 0},""" +
      s""""attempted":${attempted.get()},"failed":${failed.get()},"wrong":${wrong.get()},""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)},""" +
      s""""ops":${perOp(opList)},"setup_ops":${perOp(setupOps.asScala.toSeq)},""" +
      s""""notes":${notes.asScala.map(str).mkString("[", ",", "]")}}"""
}

object Stats {
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
