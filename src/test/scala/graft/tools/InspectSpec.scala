package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.TestSpark

/** Each Inspect mode run against the shared session on the flagship query. */
class InspectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val q = "r10_multiway_join_agg"

  test("--plan prints the formatted physical plan") {
    val out = Inspect.plan(spark, q, sf)
    assert(out.contains("== Physical Plan =="), out)
    assert(out.contains("Scan parquet"), out)
  }

  test("--final prints the final adaptive plan and per-scan file metrics") {
    val out = Inspect.finalPlan(spark, q, sf)
    assert(out.contains("isFinalPlan=true"), out)
    assert("(?m)^scan .*numFiles=\\d+ staticFilesNum=".r.findFirstIn(out).nonEmpty, out)
  }

  test("--jobs reports each run's wall time and at least one job") {
    val out = Inspect.jobs(spark, q, sf, repeat = 2)
    val runs = "JOBS r10_multiway_join_agg run (\\d): [\\d.]+ s, (\\d+) jobs".r
      .findAllMatchIn(out).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(runs.map(_._1) === Seq(1, 2), out)
    assert(runs.forall(_._2 >= 1), out)
    assert(out.contains("  phase ") && out.contains("  stage "), out)
  }
}
